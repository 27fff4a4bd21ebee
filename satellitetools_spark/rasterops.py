"""Raster kernels: synthetic COG-chunk decode, grid math, resampling.

The sandbox has no rasterio and no network, so ``media_ref`` spans address a
*deterministic synthetic* COG world: pixel DNs are an analytic function of
(band, productid, absolute UTM coords). ``decode_chunk`` is the stand-in for
the reference's windowed HTTP range read (aws.py:464-546) — same contract
(a 2-D DN block for one band of one product), fake payload. Everything else
in this module (window assembly, scale/offset, bilinear/nearest resampling,
buffered-window semantics) is the real engine path and mirrors the
reference's raster.py:92-196 + aws.py:479-528 semantics:

- +100 m buffered read window around the AOI bbox (aws.py:491-498), so
  resampling has support beyond the AOI edge;
- reflectance scaling DN/10000 with DN nodata → NaN (gee.py:38,737;
  aws.py:515-528);
- bilinear resampling for spectral bands, nearest for SCL (aws.py:592-596);
- pixel-center coordinates at grid + gsd/2 (aws.py:645-662).

All kernels are vectorized NumPy — they run inside Arrow-batched pandas
UDFs, never per-row Python.
"""

from __future__ import annotations

import math
import zlib
from functools import lru_cache
from typing import List, Sequence, Tuple

import numpy as np

from .constants import S2_BAND_GSD, S2_REFL_TRANS

CHUNK_PX = 16            # chunk side length in pixels
BUFFER_M = 100.0         # buffered-read margin around the AOI bbox
DN_NODATA = -99999       # transport no-data sentinel (gee.py:38)
MEDIA_SCHEME = "s2cog"

# a parsed media_ref: (tileid, productid, band, gsd, cy, cx)
ChunkRef = Tuple[str, str, str, int, int, int]

# pixel-center offset template within a chunk (i + 0.5 for i in 0..CHUNK_PX)
_CHUNK_OFFS = np.arange(CHUNK_PX) + 0.5

# Synthetic reflectance field: base + amplitude per band (kept mostly inside
# the SNAP definition domains, with tails that exercise the domain checks).
_BAND_BASE = {
    "B1": 0.035, "B2": 0.032, "B3": 0.055, "B4": 0.042, "B5": 0.085,
    "B6": 0.16, "B7": 0.19, "B8": 0.24, "B8A": 0.245, "B9": 0.09,
    "B11": 0.13, "B12": 0.07, "AOT": 0.08, "WVP": 0.35,
}
_BAND_AMP = {
    "B1": 0.02, "B2": 0.02, "B3": 0.035, "B4": 0.035, "B5": 0.05,
    "B6": 0.07, "B7": 0.08, "B8": 0.10, "B8A": 0.10, "B9": 0.05,
    "B11": 0.07, "B12": 0.05, "AOT": 0.04, "WVP": 0.15,
}


@lru_cache(maxsize=65536)
def _phase(key: str, salt: str) -> float:
    """Deterministic phase in [0, 2π) from a string key. Memoized: the
    decode path evaluates the same (productid, band) phase for every chunk
    of a band — one crc32 per key instead of one per chunk."""
    h = zlib.crc32(f"{salt}|{key}".encode()) & 0xFFFFFFFF
    return h / 4294967296.0 * 2.0 * math.pi


@lru_cache(maxsize=65536)
def _hash01(key: str, salt: str) -> float:
    h = zlib.crc32(f"{salt}|{key}".encode()) & 0xFFFFFFFF
    return h / 4294967296.0


def scene_cloud_bias(productid: str) -> float:
    """Per-scene cloudiness bias; ~1 in 4 scenes is heavily cloudy."""
    u = _hash01(productid, "cloud")
    # cloudy scenes: bias 0.9 → large cloud fraction, fails QI; clear
    # scenes: bias ≤ -0.75 → zero cloud cover, only marginal shadow
    return 0.9 if u < 0.25 else -1.0 + (u - 0.25) / 3.0


def scene_has_missing(productid: str) -> bool:
    """~1 in 5 scenes carries a missing-data swath."""
    return _hash01(productid, "missing") < 0.2


def _missing_mask(productid: str, xs2d: np.ndarray, ys2d: np.ndarray) -> np.ndarray:
    shape = np.broadcast_shapes(np.shape(xs2d), np.shape(ys2d))
    if not scene_has_missing(productid):
        return np.zeros(shape, dtype=bool)
    p = _phase(productid, "mstripe")
    # ~150 m-scale swaths so even field-sized AOIs intersect nodata
    m = np.sin(xs2d / 240.0 + p) * np.cos(ys2d / 210.0 + 0.7 * p) > 0.75
    return np.broadcast_to(m, shape)


def native_band_dn(band: str, productid: str, xs2d: np.ndarray, ys2d: np.ndarray) -> np.ndarray:
    """Synthetic native-resolution DN field (float64; DN_NODATA where missing).

    Smooth in absolute coords, so chunking/windowing choices cannot change
    values — the determinism contract between datagen and the engine.
    """
    p1 = _phase(productid, band + ":a")
    p2 = _phase(productid, band + ":b")
    base, amp = _BAND_BASE[band], _BAND_AMP[band]
    v = (
        base
        + amp * np.sin(xs2d / 530.0 + p1) * np.cos(ys2d / 710.0 + p2)
        + 0.25 * amp * np.sin((xs2d + ys2d) / 190.0 + 1.7 * p1)
    )
    # minimum/maximum instead of np.clip: identical IEEE result without
    # the np.clip dispatch overhead (hot path: called once per chunk)
    dn = np.rint(np.minimum(np.maximum(v, 0.0), 1.2) * S2_REFL_TRANS)
    if scene_has_missing(productid):
        dn[_missing_mask(productid, xs2d, ys2d)] = DN_NODATA
    return dn


def native_scl(productid: str, xs2d: np.ndarray, ys2d: np.ndarray) -> np.ndarray:
    """Synthetic SCL classification field (int64, native 20 m)."""
    p1 = _phase(productid, "scl:a")
    p2 = _phase(productid, "scl:b")
    bias = scene_cloud_bias(productid)
    c = np.sin(xs2d / 830.0 + p1) * np.cos(ys2d / 640.0 + p2) + bias
    w = np.sin(xs2d / 2100.0 + 0.3) * np.cos(ys2d / 2600.0 + 1.1)
    c, w = np.broadcast_arrays(c, w)
    scl = np.full(c.shape, 4, dtype=np.int64)             # VEGETATION
    scl[w > 0.80] = 6                                      # WATER
    scl[(c > 0.30) & (c <= 0.55)] = 8                      # CLOUD_MEDIUM_PROBA
    scl[c > 0.55] = 9                                      # CLOUD_HIGH_PROBA
    scl[c < -1.93] = 3                                     # CLOUD_SHADOW (rare)
    scl[_missing_mask(productid, xs2d, ys2d)] = 0          # NODATA class
    return scl


# ---------------------------------------------------------------------------
# media_ref addressing
# ---------------------------------------------------------------------------

def make_media_ref(tileid: str, productid: str, band: str, gsd: int, cy: int, cx: int) -> str:
    return f"{MEDIA_SCHEME}://{tileid}/{productid}/{band}/{gsd}/{cy}/{cx}"


def parse_media_ref(ref: str) -> ChunkRef:
    body = ref.split("://", 1)[1]
    tileid, productid, band, gsd, cy, cx = body.split("/")
    return tileid, productid, band, int(gsd), int(cy), int(cx)


def decode_chunk(chunk: ChunkRef) -> np.ndarray:
    """Decode one chunk payload (addressed by its parsed media ref) →
    (CHUNK_PX, CHUNK_PX) DN array.

    Row 0 is the chunk's smallest-y row; element [j, i] is the pixel whose
    center is ((cx*CHUNK_PX + i + 0.5)·gsd, (cy*CHUNK_PX + j + 0.5)·gsd).
    """
    _tile, productid, band, gsd, cy, cx = chunk
    # open (broadcasting) grids — no dense meshgrid copies in the hot path.
    # (k*CHUNK_PX + _CHUNK_OFFS) is exact float arithmetic (integers and
    # half-integers ≪ 2^53), so reusing the precomputed offset template is
    # bit-identical to rebuilding arange(CHUNK_PX)+0.5 per chunk.
    xs2d = ((cx * CHUNK_PX + _CHUNK_OFFS) * gsd)[None, :]
    ys2d = ((cy * CHUNK_PX + _CHUNK_OFFS) * gsd)[:, None]
    if band == "SCL":
        return native_scl(productid, xs2d, ys2d).astype(np.float64)
    return native_band_dn(band, productid, xs2d, ys2d)


def chunk_range_for_bbox(bbox: Tuple[float, float, float, float], gsd: int) -> Tuple[int, int, int, int]:
    """Chunk index range (cx0, cx1, cy0, cy1 inclusive) covering a bbox."""
    step = CHUNK_PX * gsd
    cx0 = math.floor(bbox[0] / step)
    cx1 = math.floor(bbox[2] / step)
    cy0 = math.floor(bbox[1] / step)
    cy1 = math.floor(bbox[3] / step)
    return cx0, cx1, cy0, cy1


def chunk_refs_for_bbox(tileid: str, productid: str, band: str,
                        bbox: Tuple[float, float, float, float]) -> List[str]:
    gsd = S2_BAND_GSD[band]
    cx0, cx1, cy0, cy1 = chunk_range_for_bbox(bbox, gsd)
    return [
        make_media_ref(tileid, productid, band, gsd, cy, cx)
        for cy in range(cy0, cy1 + 1)
        for cx in range(cx0, cx1 + 1)
    ]


# ---------------------------------------------------------------------------
# Grid + resampling
# ---------------------------------------------------------------------------

def target_grid(bbox: Tuple[float, float, float, float], gsd: float) -> Tuple[np.ndarray, np.ndarray]:
    """Pixel-center coordinate axes of the gsd-aligned grid covering bbox
    buffered by BUFFER_M (the reference's buffered read window)."""
    xmin, ymin, xmax, ymax = bbox
    xmin -= BUFFER_M; ymin -= BUFFER_M; xmax += BUFFER_M; ymax += BUFFER_M
    x0 = math.floor(xmin / gsd) * gsd
    y0 = math.floor(ymin / gsd) * gsd
    nx = math.ceil((xmax - x0) / gsd)
    ny = math.ceil((ymax - y0) / gsd)
    xs = x0 + (np.arange(nx) + 0.5) * gsd
    ys = y0 + (np.arange(ny) + 0.5) * gsd
    return xs, ys


def assemble_window(chunks: Sequence[Tuple[ChunkRef, np.ndarray]],
                    ) -> Tuple[np.ndarray, float, int, int]:
    """Scatter decoded chunks of ONE (product, band) into a dense window.

    Returns (window, gsd, cx0, cy0) where window[j, i] is the pixel with
    center ((cx0*CHUNK_PX+i+0.5)*gsd, (cy0*CHUNK_PX+j+0.5)*gsd).
    Missing chunks stay NaN.
    """
    gsd = chunks[0][0][3]
    cys = [c[4] for c, _ in chunks]
    cxs = [c[5] for c, _ in chunks]
    cy0, cx0 = min(cys), min(cxs)
    ny = (max(cys) - cy0 + 1) * CHUNK_PX
    nx = (max(cxs) - cx0 + 1) * CHUNK_PX
    win = np.full((ny, nx), np.nan)
    for (_, _, _, _, cy, cx), payload in chunks:
        j0 = (cy - cy0) * CHUNK_PX
        i0 = (cx - cx0) * CHUNK_PX
        win[j0:j0 + CHUNK_PX, i0:i0 + CHUNK_PX] = payload
    return win, float(gsd), cx0, cy0


def dn_to_reflectance(dn: np.ndarray) -> np.ndarray:
    """Scale/offset + no-data substitution (F5 + P10): DN/10000, nodata→NaN."""
    v = dn / S2_REFL_TRANS
    v[dn == DN_NODATA] = np.nan
    return v


def sample_grid(win: np.ndarray, gsd: float, cx0: int, cy0: int,
                tgt_xs: np.ndarray, tgt_ys: np.ndarray,
                method: str) -> np.ndarray:
    """Sample a native window at target pixel centers (bilinear or nearest).

    ``win`` is in final value space (reflectance for spectral bands, class
    codes for SCL). The window is read through a 1-source-pixel NaN halo,
    so a target whose support reaches past the window edge (a document
    missing an edge chunk) is no data: a chunk that was not fetched is no
    data, the same rule ``assemble_window`` applies inside the window. NaN
    in any bilinear support pixel propagates NaN, matching resampling over
    nodata. The engine's decode and the oracle's analytic window
    (``datagen``) both sample through this one body.
    """
    ny, nx = win.shape
    halo = np.full((ny + 2, nx + 2), np.nan)
    halo[1:-1, 1:-1] = win
    # the halo's left/bottom edge, one source pixel outside the window
    x_org = cx0 * CHUNK_PX * gsd - gsd
    y_org = cy0 * CHUNK_PX * gsd - gsd

    # open target grids: fancy indexing + arithmetic broadcast to (ny, nx)
    fx = (tgt_xs[None, :] - x_org) / gsd - 0.5   # fractional source index
    fy = (tgt_ys[:, None] - y_org) / gsd - 0.5
    if method == "nearest":
        ix = np.clip(np.rint(fx).astype(np.int64), 0, nx + 1)
        iy = np.clip(np.rint(fy).astype(np.int64), 0, ny + 1)
        return halo[iy, ix]
    ix0 = np.clip(np.floor(fx).astype(np.int64), 0, nx)
    iy0 = np.clip(np.floor(fy).astype(np.int64), 0, ny)
    wx = fx - ix0
    wy = fy - iy0
    return (halo[iy0, ix0] * (1 - wx) * (1 - wy)
            + halo[iy0, ix0 + 1] * wx * (1 - wy)
            + halo[iy0 + 1, ix0] * (1 - wx) * wy
            + halo[iy0 + 1, ix0 + 1] * wx * wy)


def render_band_on_grid(band: str, tgt_xs: np.ndarray, tgt_ys: np.ndarray,
                        chunks: Sequence[Tuple[ChunkRef, np.ndarray]],
                        ) -> np.ndarray:
    """Full per-band path: window from the decoded chunks (at least one;
    the caller decodes a band with no fetched chunk as no data) → scale →
    resample to the target grid. Returns float values (reflectance, or SCL
    codes as float), NaN where no fetched chunk supports a target.
    """
    win, gsd, cx0, cy0 = assemble_window(chunks)
    if band == "SCL":
        return sample_grid(win, gsd, cx0, cy0, tgt_xs, tgt_ys, "nearest")
    return sample_grid(dn_to_reflectance(win), gsd, cx0, cy0,
                       tgt_xs, tgt_ys, "bilinear")
