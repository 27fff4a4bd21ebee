"""Deterministic synthesis of the interleaved document table + NumPy oracle.

Produces, per scale tag, a directory with:

- ``docs.parquet``    — the engine's scan target, exactly the driver-mandated
  shape ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
  One document per (AOI, scene): a scene-metadata text span, an AOI-GeoJSON
  text span, and one media span per COG chunk per band.
- ``scenes.parquet``  — flat per-document scene dimension (for oracle SQL).
- ``oracle_pixels.parquet`` — ground-truth long pixel table at target GSD:
  every pixel of the buffered target grid with an ``inside`` flag computed
  by brute-force NumPy ray casting (independent of the engine's
  cell-cover-accelerated join path), band reflectances and SCL codes.
- ``oracle_scl20.parquet`` — SCL at the 20 m QI-evaluation scale.

AOIs are the reference's own test polygons, verbatim (tests/test_aws.py:12-35,
167-175, 208-214, 240-249; tests/test_gee.py:75-84, 209-219, 267-282).
Values are analytic functions of absolute coordinates (rasterops.py), so the
oracle and the engine's chunk-decode path must agree bit-for-bit.
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime, timedelta
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import geometry as G
from . import rasterops as R
from .constants import CELL_SIZE_M, S2_BAND_GSD, S2_BANDS_10_20

# ---------------------------------------------------------------------------
# Reference test AOIs (EPSG:4326 lon/lat), verbatim
# ---------------------------------------------------------------------------

QVIDJA_EC = [
    [22.3913931, 60.295311], [22.3917056, 60.2951721], [22.3922131, 60.2949717],
    [22.3927016, 60.2948124], [22.3932251, 60.2946874], [22.3931117, 60.2946416],
    [22.3926039, 60.2944037], [22.3920127, 60.2941585], [22.3918447, 60.2940601],
    [22.391413, 60.2937852], [22.3908102, 60.2935286], [22.390173, 60.2933897],
    [22.389483, 60.2933106], [22.3890777, 60.293541], [22.3891442, 60.2936358],
    [22.3889863, 60.2940313], [22.3892131, 60.2941537], [22.3895462, 60.2942468],
    [22.3899066, 60.2944289], [22.3903881, 60.2946329], [22.3904738, 60.2948121],
    [22.3913931, 60.295311],
]
DIFFICULT = [
    [23.82573048401551, 60.75855515465485], [23.82544917989838, 60.75680426756835],
    [23.82657367536738, 60.75691684707225], [23.82691587445285, 60.75850501120518],
    [23.82573048401551, 60.75855515465485],
]
PROBLEM_MISSING = [
    [25.874837428345387, 64.789844062914838], [25.87563257650196, 64.790851981054146],
    [25.875984787908642, 64.790814842307171], [25.875167562154864, 64.789786508355235],
    [25.874837428345387, 64.789844062914838],
]
PROBLEM_CORNER = [
    [25.26357682230987, 61.18521554124717], [25.26114028733094, 61.18482782876639],
    [25.26094993882246, 61.18364458454032], [25.26012342958079, 61.1825059602979],
    [25.25948536384726, 61.18109226582717], [25.25903065308278, 61.18028608029265],
    [25.262846667868, 61.18121793696833], [25.26357682230987, 61.18521554124717],
]
LAKE = [
    [23.76072665998865, 60.78877854773374], [23.760445355871518, 60.78702931064117],
    [23.76156985134052, 60.7871417840537], [23.76191205042599, 60.788728451538454],
    [23.76072665998865, 60.78877854773374],
]
ONE_PX = [
    [0.7928222017683817, 42.63188925867777], [0.7932474148375968, 42.63183255500702],
    [0.7935161231648058, 42.63207447646401], [0.7933808033796685, 42.63216285078755],
    [0.7931923944390995, 42.63208507482328], [0.7929224148153224, 42.63210705264266],
    [0.7927627009200733, 42.6320269199325], [0.7924680675306872, 42.63195239434005],
    [0.7928222017683817, 42.63188925867777],
]
MULTI_A = [
    [22.3873751, 60.2854051], [22.389999, 60.2870115], [22.3904474, 60.2868637],
    [22.3879298, 60.28518369999998], [22.3873751, 60.2854051],
]
MULTI_B = [
    [22.3889573, 60.28739560000001], [22.3896006, 60.2871823],
    [22.3870542, 60.2855162], [22.3865752, 60.2857636],
    [22.3889573, 60.28739560000001],
]

BANDS = S2_BANDS_10_20 + ["SCL"]

# name → (list of 4326 rings, [tiles], zone, target_gsd)
# 'difficult' alternates between two tiles to exercise the tile-mode filter.
BASE_AOIS: Dict[str, Tuple[List[list], List[str], int, float]] = {
    "qvidja_ec": ([QVIDJA_EC], ["34VEM"], 34, 20.0),
    "difficult": ([DIFFICULT], ["34VFN", "34VFP"], 34, 20.0),
    "problematic_missing": ([PROBLEM_MISSING], ["35VNL"], 35, 20.0),
    "problematic_corner": ([PROBLEM_CORNER], ["35VMK"], 35, 10.0),
    "lake": ([LAKE], ["34VFN"], 34, 20.0),
    "one_px": ([ONE_PX], ["31TCH"], 31, 20.0),
    "multipolygon": ([MULTI_A, MULTI_B], ["34VEM"], 34, 10.0),
}

SIZE_PRESETS = {
    # tag: (aoi subset or None=all, n_dates, n_clone_aois)
    "sf0.001": (["qvidja_ec", "multipolygon"], 4, 0),
    "sf0.01": (None, 10, 0),
    "sf0.1": (None, 60, 33),
    # ragged-ingest variant of the correctness scale: a deterministic
    # subset of documents is malformed — one band is missing a chunk span,
    # so its per-band chunk counts disagree with its resolution group (the
    # reference's inconsistent-array dates, gee.py:161-174). Exercises the
    # P9 consistency filter; no pixel oracle needed (docs-level check).
    "sf0.01r": (None, 10, 0),
}
NO_ORACLE_TAGS = {"sf0.01r"}
RAGGED_TAGS = {"sf0.01r"}


def _aoi_registry(tag: str) -> Dict[str, Tuple[List[np.ndarray], List[str], int, float]]:
    subset, _n_dates, n_clones = SIZE_PRESETS[tag]
    reg = {}
    names = subset if subset else list(BASE_AOIS)
    for n in names:
        rings, tiles, zone, gsd = BASE_AOIS[n]
        reg[n] = ([np.asarray(r, float) for r in rings], tiles, zone, gsd)
    # bench clones: translated qvidja copies, all on the hot tile 34VEM →
    # deliberate key skew for the salted skew helpers (operators/skew.py)
    for k in range(n_clones):
        dlon = 0.018 * ((k % 8) + 1)
        dlat = 0.011 * ((k // 8) + 1)
        rings = [np.asarray(QVIDJA_EC, float) + np.array([dlon, dlat])]
        reg[f"clone_{k:02d}"] = (rings, ["34VEM"], 34, 20.0)
    return reg


def _dates(n: int) -> List[datetime]:
    t0 = datetime(2023, 6, 1, 10, 0, 21)
    return [t0 + timedelta(days=5 * k) for k in range(n)]


def _product_id(tile: str, t: datetime) -> str:
    stamp = t.strftime("%Y%m%dT%H%M%S")
    return f"S2A_MSIL2A_{stamp}_N0509_R065_T{tile}_{t.strftime('%Y%m%d')}T120000"


def _obs_geometry(productid: str) -> Dict[str, object]:
    """Observation geometry: per-detector view-angle arrays (the raw form
    the reference parses out of granule-metadata XML, aws.py:685-727) plus
    their exact means as the scalar fields every downstream consumer uses.
    """
    n_det = 4
    va = [360.0 * R._hash01(productid, f"va{k}") for k in range(n_det)]
    vz = [12.0 * R._hash01(productid, f"vz{k}") for k in range(n_det)]
    return {
        "sun_azimuth": 140.0 + 60.0 * R._hash01(productid, "sa"),
        "sun_zenith": 35.0 + 30.0 * R._hash01(productid, "sz"),
        "view_azimuth": float(np.mean(va)),
        "view_zenith": float(np.mean(vz)),
        "view_azimuth_detectors": va,
        "view_zenith_detectors": vz,
    }


def build_documents(tag: str):
    """Yield per-document dicts: metadata + spans + UTM rings + grids."""
    subset, n_dates, _ = SIZE_PRESETS[tag]
    registry = _aoi_registry(tag)
    dates = _dates(n_dates)
    docs = []
    for aoi_name, (rings4326, tiles, zone, gsd_t) in sorted(registry.items()):
        rings_utm = G.project_rings_to_utm(rings4326, zone)
        bbox = G.rings_bounds(rings_utm)
        aoi_json = json.dumps({
            "type": "aoi", "name": aoi_name,
            "geometry": json.loads(G.rings_to_geojson(rings4326)),
            "crs": "EPSG:4326", "utm_zone": zone,
            "target_gsd": gsd_t, "qi_evaluation_scale": 20.0,
        })
        for di, t in enumerate(dates):
            tile = tiles[di % len(tiles)]  # alternate tiles when several
            productid = _product_id(tile, t)
            variants = [("c1", "sentinel-2-c1-l2a-to-stac")]
            # duplicate product (W3): every 4th qvidja/clone date also gets
            # the legacy-pipeline item that intended dedup should drop
            if di % 4 == 1 and (aoi_name == "qvidja_ec" or aoi_name.startswith("clone")):
                variants.append(("legacy", "sentinel2-to-stac"))
            for suffix, processing in variants:
                assetid = f"S2A_{tile}_{t.strftime('%Y%m%d')}_0_L2A_{suffix}"
                doc_id = f"{aoi_name}:{productid}:{assetid}"
                meta = {
                    "type": "scene_meta", "productid": productid,
                    "assetid": assetid, "tileid": tile,
                    "acquisition_time": t.strftime("%Y-%m-%d %H:%M:%S"),
                    "projection": f"EPSG:{32600 + zone}",
                    "datasource": "synthetic_cog", "processing": processing,
                    **_obs_geometry(productid),
                }
                spans = [
                    ("text", json.dumps(meta), "", 0),
                    ("text", aoi_json, "", 1),
                ]
                off = 2
                txs, tys = R.target_grid(bbox, gsd_t)
                cover_bbox = (txs[0] - gsd_t, tys[0] - gsd_t, txs[-1] + gsd_t, tys[-1] + gsd_t)
                for band in BANDS:
                    for ref in R.chunk_refs_for_bbox(tile, productid, band, cover_bbox):
                        spans.append(("media", "", ref, off))
                        off += 1
                if tag in RAGGED_TAGS:
                    # malform a deterministic subset: drop the last chunk
                    # span of one band so its count disagrees with its
                    # resolution group (P9 ragged ingest)
                    k = len(docs)
                    victim = "/B5/" if k % 7 == 3 else (
                        "/B3/" if k % 11 == 5 else None)
                    if victim:
                        for si in range(len(spans) - 1, -1, -1):
                            if victim in spans[si][2]:
                                del spans[si]
                                break
                docs.append({
                    "doc_id": doc_id, "aoi": aoi_name, "tile": tile,
                    "productid": productid, "assetid": assetid,
                    "acquisition_time": t, "zone": zone, "gsd_t": gsd_t,
                    "processing": processing, "meta": meta,
                    "rings_utm": rings_utm, "bbox": bbox, "spans": spans,
                })
    return docs


_SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])


def _write_docs(docs, path: str, n_files: int = 32):
    """Write the document table as a DIRECTORY of parquet files (the shape
    of a real Iceberg table: many data files → the Spark scan parallelizes
    naturally instead of serializing on one file/row group)."""
    os.makedirs(path, exist_ok=True)
    n_files = max(1, min(n_files, (len(docs) + 3) // 4))
    per = (len(docs) + n_files - 1) // n_files
    for fi in range(n_files):
        part = docs[fi * per:(fi + 1) * per]
        if not part:
            break
        rows = [
            [{"kind": k, "text": txt, "media_ref": ref, "offset": o}
             for (k, txt, ref, o) in d["spans"]]
            for d in part
        ]
        table = pa.table({
            "doc_id": pa.array([d["doc_id"] for d in part], pa.string()),
            "spans": pa.array(rows, pa.list_(_SPAN_TYPE)),
        })
        pq.write_table(table, os.path.join(path, f"part-{fi:05d}.parquet"))


def _write_scenes(docs, path: str):
    cols = {
        "doc_id": [d["doc_id"] for d in docs],
        "aoi": [d["aoi"] for d in docs],
        "tileid": [d["tile"] for d in docs],
        "assetid": [d["assetid"] for d in docs],
        "productid": [d["productid"] for d in docs],
        "acquisition_time": [d["acquisition_time"] for d in docs],
        "projection": [d["meta"]["projection"] for d in docs],
        "datasource": [d["meta"]["datasource"] for d in docs],
        "processing": [d["processing"] for d in docs],
        "target_gsd": [d["gsd_t"] for d in docs],
        "sun_azimuth": [d["meta"]["sun_azimuth"] for d in docs],
        "sun_zenith": [d["meta"]["sun_zenith"] for d in docs],
        "view_azimuth": [d["meta"]["view_azimuth"] for d in docs],
        "view_zenith": [d["meta"]["view_zenith"] for d in docs],
        "view_azimuth_detectors": [d["meta"]["view_azimuth_detectors"] for d in docs],
        "view_zenith_detectors": [d["meta"]["view_zenith_detectors"] for d in docs],
    }
    table = pa.table({
        k: pa.array(v, pa.timestamp("us") if k == "acquisition_time" else None)
        for k, v in cols.items()
    })
    pq.write_table(table, path)


def _oracle_pixels_for_doc(d, gsd: float):
    """Brute-force ground truth: full buffered target grid + PIP + values."""
    txs, tys = R.target_grid(d["bbox"], gsd)
    x2, y2 = np.meshgrid(txs, tys)
    inside = G.points_in_rings(x2.ravel(), y2.ravel(), d["rings_utm"])
    # Cross-check with the independently written winding-number PIP:
    # the engine and this oracle share geometry.points_in_rings at the
    # dataflow level, so a bug in the shared kernel would otherwise be
    # invisible to the gate. Every oracle row is verified against the
    # second implementation at generation time (and again in pytest).
    from satellitetools_spark.groundtruth import points_in_rings_winding
    wind = points_in_rings_winding(x2.ravel(), y2.ravel(),
                                   d["rings_utm"])
    if (wind != inside).any():
        bad = int((wind != inside).sum())
        raise AssertionError(
            f"PIP cross-check failed for doc {d['doc_id']}: "
            f"{bad} grid points disagree between even-odd ray casting "
            f"and the winding-number reference")
    out = {
        "x": x2.ravel(), "y": y2.ravel(), "inside": inside,
        "aoi_pixels": int(inside.sum()),
    }
    for band in BANDS:
        win, gsd_n, cx0, cy0 = _analytic_window(band, d["productid"], txs, tys)
        if band == "SCL":
            vals = R.sample_grid(win, gsd_n, cx0, cy0, txs, tys, "nearest")
        else:
            vals = R.sample_grid(R.dn_to_reflectance(win), gsd_n, cx0, cy0,
                                 txs, tys, "bilinear")
        out[band] = vals.ravel()
    return out


def _analytic_window(band: str, productid: str, txs, tys):
    """The oracle's native window: every chunk of ``band`` covering the
    target grid plus BUFFER_M, synthesized from the analytic field instead
    of decoded from chunk payloads. Returns (window, gsd, cx0, cy0) as
    ``rasterops.assemble_window`` does."""
    gsd = float(S2_BAND_GSD[band])
    step = R.CHUNK_PX * gsd
    cx0 = math.floor((txs.min() - R.BUFFER_M) / step)
    cy0 = math.floor((tys.min() - R.BUFFER_M) / step)
    cx1 = math.floor((txs.max() + R.BUFFER_M) / step)
    cy1 = math.floor((tys.max() + R.BUFFER_M) / step)
    xs = (cx0 * R.CHUNK_PX + np.arange((cx1 - cx0 + 1) * R.CHUNK_PX) + 0.5) * gsd
    ys = (cy0 * R.CHUNK_PX + np.arange((cy1 - cy0 + 1) * R.CHUNK_PX) + 0.5) * gsd
    x2, y2 = np.meshgrid(xs, ys)
    if band == "SCL":
        return R.native_scl(productid, x2, y2).astype(np.float64), gsd, cx0, cy0
    return R.native_band_dn(band, productid, x2, y2), gsd, cx0, cy0


def _write_oracle_pixels(docs, path: str, scl20_path: str):
    pix_cols = {k: [] for k in
                ["doc_id", "aoi", "tileid", "assetid", "productid",
                 "acquisition_time", "x", "y", "inside", "aoi_pixels"] + BANDS}
    scl_cols = {k: [] for k in ["doc_id", "x", "y", "inside", "SCL", "aoi_pixels"]}
    for d in docs:
        g = _oracle_pixels_for_doc(d, d["gsd_t"])
        n = len(g["x"])
        pix_cols["doc_id"] += [d["doc_id"]] * n
        pix_cols["aoi"] += [d["aoi"]] * n
        pix_cols["tileid"] += [d["tile"]] * n
        pix_cols["assetid"] += [d["assetid"]] * n
        pix_cols["productid"] += [d["productid"]] * n
        pix_cols["acquisition_time"] += [d["acquisition_time"]] * n
        pix_cols["x"].append(g["x"]); pix_cols["y"].append(g["y"])
        pix_cols["inside"].append(g["inside"])
        pix_cols["aoi_pixels"] += [g["aoi_pixels"]] * n
        for band in BANDS:
            pix_cols[band].append(g[band])
        # QI-scale SCL grid (always 20 m)
        if d["gsd_t"] == 20.0:
            g20 = g
        else:
            g20 = _oracle_pixels_for_doc(d, 20.0)
        m = len(g20["x"])
        scl_cols["doc_id"] += [d["doc_id"]] * m
        scl_cols["x"].append(g20["x"]); scl_cols["y"].append(g20["y"])
        scl_cols["inside"].append(g20["inside"])
        scl_cols["SCL"].append(g20["SCL"])
        scl_cols["aoi_pixels"] += [g20["aoi_pixels"]] * m

    def arr(v, typ=None):
        if isinstance(v, list) and v and isinstance(v[0], np.ndarray):
            v = np.concatenate(v)
        if isinstance(v, np.ndarray) and v.dtype.kind == "f":
            return pa.array(v, pa.float64(), mask=np.isnan(v))
        return pa.array(v, typ)

    pix_table = pa.table({
        "doc_id": arr(pix_cols["doc_id"], pa.string()),
        "aoi": arr(pix_cols["aoi"], pa.string()),
        "tileid": arr(pix_cols["tileid"], pa.string()),
        "assetid": arr(pix_cols["assetid"], pa.string()),
        "productid": arr(pix_cols["productid"], pa.string()),
        "acquisition_time": pa.array(pix_cols["acquisition_time"], pa.timestamp("us")),
        "x": arr(pix_cols["x"]), "y": arr(pix_cols["y"]),
        "inside": arr(pix_cols["inside"]),
        "aoi_pixels": pa.array(pix_cols["aoi_pixels"], pa.int32()),
        **{b: arr(pix_cols[b]) for b in S2_BANDS_10_20},
        "SCL": pa.array(np.concatenate(pix_cols["SCL"]).astype(np.int32)),
    })
    pq.write_table(pix_table, path)
    scl_table = pa.table({
        "doc_id": arr(scl_cols["doc_id"], pa.string()),
        "x": arr(scl_cols["x"]), "y": arr(scl_cols["y"]),
        "inside": arr(scl_cols["inside"]),
        "SCL": pa.array(np.concatenate(scl_cols["SCL"]).astype(np.int32)),
        "aoi_pixels": pa.array(scl_cols["aoi_pixels"], pa.int32()),
    })
    pq.write_table(scl_table, scl20_path)


def _write_dem(docs, path: str):
    """Synthetic DEM dimension: one elevation per planar cell covering any
    AOI's buffered grid (the reference's DEM point lookup, gee.py:748-773,
    re-expressed as a second lookup table keyed by the engine's cell id).
    Elevation is a deterministic hash of the cell id so engine and oracle
    agree bit-for-bit."""
    cells: set = set()
    seen: set = set()
    for d in docs:
        key = (d["aoi"], d["gsd_t"])
        if key in seen:
            continue
        seen.add(key)
        txs, tys = R.target_grid(d["bbox"], d["gsd_t"])
        x2, y2 = np.meshgrid(txs, tys)
        cells.update(G.cell_id(x2.ravel(), y2.ravel(), CELL_SIZE_M).tolist())
    cell_list = sorted(cells)
    elev = [round(100.0 + 400.0 * R._hash01(str(c), "dem"), 3)
            for c in cell_list]
    pq.write_table(pa.table({"cell": pa.array(cell_list, pa.int64()),
                             "elevation": pa.array(elev, pa.float64())}),
                   path)


GEODATA_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".geodata")


def geodata_dir(tag: str) -> str:
    return os.path.join(GEODATA_ROOT, tag)


def tag_for_sf_dir(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return base if base in SIZE_PRESETS else "sf0.01"


def ensure_geodata(tag: str) -> str:
    """Generate (once) the synthetic geo dataset for a scale tag."""
    d = geodata_dir(tag)
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    docs = build_documents(tag)
    # enough data files that the Spark scan natively yields >= 3x
    # defaultParallelism splits at every core count up to 32 under
    # the session's decode-tuned split sizing — the decode mapInPandas then
    # fuses with the scan (no round-robin exchange; see decode.py)
    n_files = 128 if tag in NO_ORACLE_TAGS or tag == "sf0.1" else 32
    _write_docs(docs, os.path.join(d, "docs.parquet"), n_files=n_files)
    _write_scenes(docs, os.path.join(d, "scenes.parquet"))
    if tag not in NO_ORACLE_TAGS:
        _write_oracle_pixels(docs, os.path.join(d, "oracle_pixels.parquet"),
                             os.path.join(d, "oracle_scl20.parquet"))
        _write_dem(docs, os.path.join(d, "dem.parquet"))
    with open(marker, "w") as f:
        f.write("ok")
    return d


if __name__ == "__main__":
    import sys
    for t in (sys.argv[1:] or ["sf0.001", "sf0.01"]):
        print(ensure_geodata(t))
