"""Chunk decode + AOI spatial join: media spans → long pixel table.

This is the engine's core scan operator (reference lifecycle stage 4,
wrappers.py:75 / aws.py:548-618): per document, decode COG chunk payloads,
assemble the buffered read window per band, resample to the target grid
(bilinear spectral / nearest SCL — raster.py:92-151 semantics), compute
pixel-center coordinates, and keep pixels whose center lies inside the AOI
polygon (rasterio ``mask(all_touched=False)`` semantics, raster.py:43-54).

Spark-first shape:
- the decode input is ONE narrow JVM projection per document — doc_id, the
  band-filtered media_ref array (single array ``filter`` pass) and the raw
  text spans. Document *metadata JSON is parsed in the Python pass itself*
  (stdlib json, once per document): evaluating per-field
  ``from_json``/``get_json_object`` for 16 dimension columns on the JVM
  costs tens of ms per document (each column expression re-locates and
  re-parses the span text), which at 10^12 documents would dwarf the decode
  itself. Shuffle volume scales with chunk-ref count, not pixel count.
- Point-in-polygon is one vectorized even-odd ray cast of the AOI's whole
  target grid (``geometry.points_in_rings``), memoized per (AOI, zone,
  gsd) in each Python worker, so it never runs per document.
"""

from __future__ import annotations

import functools
import json
from typing import Iterable, List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry as G
from .. import rasterops as R
from ..constants import CELL_SIZE_M, S2_BANDS_10_20, SCL_CLASSES
from ..operators.indices import compute_vegetation_index

# scene metadata and view/sun angles copied onto every decoded pixel row
_SCENE_COLS = ["aoi", "tileid", "assetid", "productid", "acquisition_time"]
_ANGLES = ["sun_azimuth", "sun_zenith", "view_azimuth", "view_zenith"]

# Spark type of every non-band output column of the pixel and QI passes;
# both mapInPandas schemas are built from it
_COL_TYPES = {
    "doc_id": T.StringType(), "aoi": T.StringType(),
    "tileid": T.StringType(), "assetid": T.StringType(),
    "productid": T.StringType(), "acquisition_time": T.TimestampType(),
    "projection": T.StringType(), "datasource": T.StringType(),
    "processing": T.StringType(),
    "x": T.DoubleType(), "y": T.DoubleType(), "cell": T.LongType(),
    **{c: T.DoubleType() for c in _ANGLES},
    "aoi_pixels": T.IntegerType(), "gsd": T.DoubleType(),
    "target_gsd": T.DoubleType(),
}

_OUT_COLS_HEAD = ["doc_id", *_SCENE_COLS, "x", "y", "cell"]
_OUT_COLS_TAIL = [*_ANGLES, "aoi_pixels", "gsd"]
_QI_META = [*_SCENE_COLS, "projection", "datasource", "processing"]


def _fields(cols: List[str]) -> List[T.StructField]:
    return [T.StructField(c, _COL_TYPES[c]) for c in cols]


# transport record separator for packed span payloads (ASCII RS). JSON
# strings cannot contain a raw 0x1e (json escapes control chars), and the
# engine's media_ref scheme never emits one.
REF_SEP = "\x1e"


def _parse_doc_texts(row: dict) -> dict:
    """Parse the document's text spans (scene metadata + AOI record) into a
    flat dict — one stdlib-json parse per span, executed inside the Python
    pass. Returns the same keys the old JVM dimension projection produced.
    """
    meta, aoi, aoi_text = None, None, None
    for t in row["texts"].split(REF_SEP):
        if not t:
            continue
        d = json.loads(t)
        ty = d.get("type")
        if ty == "scene_meta":
            meta = d
        elif ty == "aoi":
            aoi, aoi_text = d, t
    out = {
        "doc_id": row["doc_id"],
        "aoi": aoi["name"],
        # the raw span text is the _aoi_grid memo key: one text per AOI
        "aoi_text": aoi_text,
        "utm_zone": int(aoi["utm_zone"]),
        "target_gsd": float(aoi["target_gsd"]),
        "qi_scale": float(aoi.get("qi_evaluation_scale", 20.0)),
    }
    # the scene keys (the AOI name, set above, is the AOI record's)
    out.update((k, meta[k]) for k in _QI_META if k not in out)
    out["acquisition_time"] = np.datetime64(meta["acquisition_time"], "us")
    for k in _ANGLES:
        out[k] = float(meta[k])
    return out


def pixel_schema(bands: List[str]) -> T.StructType:
    return T.StructType(
        _fields(_OUT_COLS_HEAD)
        + [T.StructField(b, T.IntegerType() if b == "SCL" else T.DoubleType())
           for b in bands]
        + _fields(_OUT_COLS_TAIL))


# the fused QI pass: scene metadata, QI scale and the SCL class fractions
QI_SCHEMA = T.StructType(
    _fields(["doc_id", *_QI_META, "target_gsd"])
    + [T.StructField(c, T.DoubleType()) for c in SCL_CLASSES])


# executor-local LRU memo: (AOI GeoJSON or AOI record text, zone, gsd) →
# target grid + inside mask
@functools.lru_cache(maxsize=256)
def _aoi_grid(aoi_json: str, zone: int, gsd: float):
    rings_utm = G.project_rings_to_utm(G.rings_from_geojson(aoi_json), zone)
    txs, tys = R.target_grid(G.rings_bounds(rings_utm), gsd)
    x2, y2 = np.meshgrid(txs, tys)
    px, py = x2.ravel(), y2.ravel()
    cells = G.cell_id(px, py, CELL_SIZE_M)
    inside = G.points_in_rings(px, py, rings_utm)
    return txs, tys, px, py, cells, inside, int(inside.sum())


# docs per emitted output frame: bounds per-yield memory while amortizing
# the pandas→Arrow conversion over many documents
_DOCS_PER_FRAME = 128

# JVM media-ref prefilter kicks in at band subsets up to this size: each
# pattern costs one substring scan per ref in the scan stage, while the
# Python side skips non-matching refs nearly for free after one split —
# A/B measurement shows the prefilter only pays off when it prunes MOST
# refs (1-2-band narrow reads like the SCL-only QI pass); at 5+ bands the
# JVM string scans cost more than the Python-side skip they save
_PREFILTER_MAX = 2


def _chunks_by_band(media_refs: str, bands: List[str]) -> dict:
    """band → parsed refs of its chunks: each ref is parsed once, here,
    and the parsed tuple addresses both the decode and the window."""
    by_band: dict = {}
    for ref in media_refs.split(REF_SEP):
        if ref:
            chunk = R.parse_media_ref(ref)
            if chunk[2] in bands:
                by_band.setdefault(chunk[2], []).append(chunk)
    return by_band


def _band_values(band: str, chunks: list, txs: np.ndarray, tys: np.ndarray,
                 inside: np.ndarray, n_in: int) -> np.ndarray:
    """One band of one document at its inside-AOI pixels. A band with no
    fetched chunk is no data, like a chunk missing from a torn window:
    NaN, and class 0 (NO_DATA) for SCL."""
    if chunks:
        vals = R.render_band_on_grid(
            band, txs, tys, [(c, R.decode_chunk(c)) for c in chunks],
        ).ravel()[inside]
    else:
        vals = np.full(n_in, np.nan)
    if band == "SCL":
        # partial chunk cover leaves NaN in the nearest-sampled class
        # raster; cast would fold it to a large negative int and
        # bincount would reject the whole task — map it to NO_DATA (0)
        return np.where(np.isfinite(vals), vals, 0.0).astype(np.int32)
    return vals


def _decode_one(raw: dict, bands: List[str], snap_vars: List[str]) -> dict:
    """Decode one document row → dict of column arrays (pixel rows) on the
    grid of its ``target_gsd``."""
    row = _parse_doc_texts(raw)
    gsd = row["target_gsd"]
    txs, tys, px, py, cells, inside, n_in = _aoi_grid(
        row["aoi_text"], row["utm_zone"], gsd)
    by_band = _chunks_by_band(raw["media_refs"], bands)

    out = {"doc_id": np.repeat(row["doc_id"], n_in)}
    for c in _SCENE_COLS + _ANGLES:
        out[c] = np.repeat(row[c], n_in)
    out["x"] = px[inside]
    out["y"] = py[inside]
    out["cell"] = cells[inside]
    for band in bands:
        out[band] = _band_values(band, by_band.get(band, []), txs, tys,
                                 inside, n_in)
    if snap_vars:
        from ..biophys.nn import run_nn
        from ..constants import BIOPHYS_COLUMN, SNAP_BIO_BANDS
        ang = {c: float(row[c]) for c in _ANGLES}
        feats = np.column_stack(
            [out[b] for b in SNAP_BIO_BANDS]
            + [np.full(n_in, np.cos(np.radians(ang["view_zenith"]))),
               np.full(n_in, np.cos(np.radians(ang["sun_zenith"]))),
               np.full(n_in, np.cos(np.radians(
                   ang["sun_azimuth"] - ang["view_azimuth"])))])
        for var in snap_vars:
            out[BIOPHYS_COLUMN[var]] = run_nn(feats, var)
    out["aoi_pixels"] = np.repeat(np.int32(n_in), n_in)
    out["gsd"] = np.repeat(gsd, n_in)
    return out


def _make_batch_decoder(bands: List[str], snap_vars: List[str],
                        cols: List[str]):
    def decode_batches(batches):
        for pdf in batches:
            rows = pdf.to_dict("records")
            for i in range(0, len(rows), _DOCS_PER_FRAME):
                outs = [_decode_one(r, bands, snap_vars)
                        for r in rows[i:i + _DOCS_PER_FRAME]]
                yield pd.DataFrame(
                    {c: np.concatenate([o[c] for o in outs]) for c in cols})

    return decode_batches


def decode_documents(
    docs: DataFrame,
    bands: Optional[Iterable[str]] = None,
    vi_vars: Optional[Iterable[str]] = None,
    snap_vars: Optional[Iterable[str]] = None,
) -> DataFrame:
    """Decode media spans of ``docs`` into the long pixel DataFrame.

    ``bands`` limits decoding (projection pushdown analog: the media-span
    filter prunes unneeded chunks *before* any shuffle or decode work).
    Pixels lie on the grid of the document's own AOI ``target_gsd``. The
    dimension columns are re-projected from the document row itself, which
    costs nothing (codegen) and keeps this a single-input operator.

    ``snap_vars`` adds SNAP neural-net columns computed in the same Python
    pass as the decode (biophys/nn.run_nn): one Arrow round-trip instead
    of one per derived column. This is the only place the SNAP nets run
    over pixels. ``vi_vars`` adds vegetation-index columns as
    ``operators.indices`` expressions over the Python pass's output, in
    the same stage: the one VI implementation, which the gated queries
    use too. One final ``select`` puts the columns in the output order:
    the pixel schema's, then the indices, then the SNAP columns.

    No-data (a DN_NODATA pixel, a missing chunk, a band with no chunk)
    leaves the Python pass as NaN and arrives in Spark as NULL: the Arrow
    serializer masks every null pandas value, so Spark never sees a NaN
    here (Spark treats NaN as a groupable value and would poison ``avg``).
    An index over a zero denominator is NULL too.

    Decode parallelism comes from :func:`_maybe_repartition`: the document
    rows are media_ref *strings* — kilobytes per document — while the
    decode work per document is milliseconds of CPU, so AQE's byte-based
    partition coalescing would pack thousands of CPU-bound documents into a
    handful of tasks unless the partition count is pinned.

    Plan shape (the scale-critical property): media refs, AOI geometry and
    scene metadata all live in the SAME document row, so the decode input
    is ONE narrow projection — array ``filter``/``transform`` over
    ``spans`` inside whole-stage codegen, no explode, no join, no groupBy.
    The only exchange is the round-robin repartition of a too-coarse scan;
    the decode itself is a ``mapInPandas`` over one-row-per-document batches
    (Arrow transfers each geometry/metadata value once per document, not
    once per chunk).
    """
    bands = list(bands) if bands is not None else S2_BANDS_10_20 + ["SCL"]
    vi_vars = [v.lower() for v in vi_vars] if vi_vars else []
    snap_vars = list(snap_vars) if snap_vars else []
    from ..constants import BIOPHYS_COLUMN
    snap_cols = [BIOPHYS_COLUMN[v] for v in snap_vars]

    schema = pixel_schema(bands)
    base = schema.fieldNames()
    for c in snap_cols:
        schema = schema.add(T.StructField(c, T.DoubleType()))

    prep = _maybe_repartition(decode_input(docs, bands))
    px = prep.mapInPandas(
        _make_batch_decoder(bands, snap_vars, schema.fieldNames()),
        schema=schema)
    for vi in vi_vars:
        px = compute_vegetation_index(px, vi)
    return px.select(*base, *vi_vars, *snap_cols)


def _maybe_repartition(prep: DataFrame) -> DataFrame:
    """Guarantee CPU-saturating decode parallelism without forcing an
    exchange: if the scan already yields >= defaultParallelism partitions
    (the normal case for a real multi-file Iceberg table), the decode
    ``mapInPandas`` FUSES with the scan into one pipelined stage — the JVM
    side of the scan overlaps the Python decode and there is no barrier.
    Only a too-coarse input (few files) triggers a round-robin repartition,
    with an explicit count so AQE's byte-based coalescing cannot collapse
    the CPU-bound stage."""
    par = prep.sparkSession.sparkContext.defaultParallelism
    # require several task waves, not just one-per-core: documents are
    # heterogeneous (a 10 m-GSD AOI decodes ~4x slower than a 20 m one),
    # and a single wave runs at the speed of its slowest straggler.
    # The probe must be driver-side METADATA only: an .rdd probe on the
    # full plan would — under AQE — eagerly materialize every upstream
    # query stage (e.g. the survivor broadcast) once for the probe and
    # again for the real job. len(inputFiles) is a pure file-listing; with
    # the session's decode-tuned split sizing (files.maxPartitionBytes)
    # each file maps to >= 1 scan split, so it lower-bounds scan
    # parallelism. A non-file source (memory relation, tests) lists no
    # files and conservatively gets the explicit fan-out.
    try:
        n_files = len(prep.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= 3 * par:
        return prep
    return prep.repartition(4 * par)


def decode_input(docs: DataFrame, bands: List[str]) -> DataFrame:
    """The one-row-per-document decode input projection.

    Scale-measured design (each choice is ~an order of magnitude on this
    path):
    - ``spans.media_ref`` / ``spans.text`` nested-field extraction instead
      of higher-order ``filter``/``transform`` lambdas — codegen'd, and
      parquet nested-schema pruning then reads only those two sub-columns;
    - the arrays cross into Python as ONE ``concat_ws``-packed string per
      document, split Python-side (C-level) — transferring a 200-element
      Arrow list<string> per doc materializes 10^2 Python string objects
      per doc and is ~30x slower end-to-end;
    - for narrow band requests (the SCL-only QI pass) a ``contains``
      prefilter prunes refs before packing (chunk-pruning analog of
      projection pushdown); the Python side remains the authoritative
      band filter (exact segment match).
    """
    refs = F.col("spans.media_ref")
    if bands is not None and len(bands) <= _PREFILTER_MAX:
        pats = [f"/{b}/" for b in bands]
        refs = F.filter(refs, lambda r: _contains_any(r, pats))
    packed_refs = F.concat_ws(REF_SEP, refs)
    packed_texts = F.concat_ws(REF_SEP, F.col("spans.text"))
    return docs.select("doc_id", packed_refs.alias("media_refs"),
                       packed_texts.alias("texts"))


def _contains_any(col, pats: List[str]):
    out = col.contains(pats[0])
    for p in pats[1:]:
        out = out | col.contains(p)
    return out


def qi_percentages(docs: DataFrame) -> DataFrame:
    """Fused QI pass: decode SCL at each document's QI scale (the AOI
    record's ``qi_evaluation_scale``) and emit ONE row per document — the
    scene metadata plus the 12 SCL class fractions (A1; the reference's QI
    table with class percentages, sentinel2.py:537-562, aws.py:620-643).
    The fractions are computed map-side, so the output is
    document-cardinality and the downstream QI filter/dedup/tile-mode plan
    shuffles kilobytes instead of the pixel table.

    Documents with zero inside-AOI pixels get NULL percentages (the
    reference's faulty-SCL NaN rows, aws.py:630-634): the NaN row leaves
    the Python pass and the Arrow serializer turns it into NULL."""
    n_cls = len(SCL_CLASSES)

    def qi_batches(batches):
        for pdf in batches:
            recs = pdf.to_dict("records")
            metas, pcts = [], []
            for raw in recs:
                meta = _parse_doc_texts(raw)
                txs, tys, _px, _py, _cells, inside, n_in = _aoi_grid(
                    meta["aoi_text"], meta["utm_zone"], meta["qi_scale"])
                chunks = _chunks_by_band(raw["media_refs"], ["SCL"])
                scl = _band_values("SCL", chunks.get("SCL", []), txs, tys,
                                   inside, n_in)
                metas.append(meta)
                if n_in:
                    pcts.append(np.bincount(scl, minlength=n_cls)[:n_cls]
                                / float(n_in))
                else:
                    pcts.append(np.full(n_cls, np.nan))
            res = {"doc_id": [m["doc_id"] for m in metas]}
            for c in _QI_META:
                res[c] = [m[c] for m in metas]
            res["target_gsd"] = [m["target_gsd"] for m in metas]
            arr = np.vstack(pcts) if pcts else np.zeros((0, n_cls))
            for i, c in enumerate(SCL_CLASSES):
                res[c] = arr[:, i]
            yield pd.DataFrame(res)

    prep = _maybe_repartition(decode_input(docs, ["SCL"]))
    return prep.mapInPandas(qi_batches, schema=QI_SCHEMA)
