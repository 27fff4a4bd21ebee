"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as opaque ``binary`` columns (or
``media_ref`` addresses) with typed metadata structs. The Spark-side
plumbing — schema, partition-preserving ``mapInPandas``, Arrow batch shape,
deterministic feature extraction — is real and tested; the *actual*
image/audio decode is stubbed (the decode libraries are not available in
this environment) behind ``decode_image``/``decode_audio`` which raise
``NotImplementedError``, with a deterministic fake used when
``fake=True``.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Callable, Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The decode contract: bytes in, ndarray out (image: HxW or HxWxC;
# audio: 1-D samples). Any codec satisfying it plugs into
# media_features(decoder=...) — PIL/libjpeg/ffmpeg wrappers in
# production, the stdlib zlib codec below in tests.
Decoder = Callable[[bytes], np.ndarray]


def decode_image(payload: bytes) -> np.ndarray:
    """Real image decode (PIL/libjpeg) — STUB: not available in this
    environment. Inject any :data:`Decoder` via
    ``media_features(decoder=...)``; :func:`decode_png_gray8` is a
    working stdlib-only REAL codec (8-bit grayscale PNG) satisfying
    the contract, :func:`decode_zlib_gray8` a minimal reference."""
    raise NotImplementedError(
        "image decode requires an imaging library not present in this "
        "environment; pass decoder= (e.g. decode_png_gray8 for real "
        "grayscale PNGs, decode_zlib_gray8 for the minimal bitmap "
        "codec) or fake=True for the deterministic stand-in")


def decode_audio(payload: bytes) -> np.ndarray:
    """Real audio decode — STUB, see decode_image."""
    raise NotImplementedError(
        "audio decode requires an audio library not present in this "
        "environment; pass decoder= or use fake=True")


# -- minimal real codec (stdlib only): deflate-compressed gray8 bitmap --
# payload = 8-byte big-endian (height, width) header + zlib(deflate) of
# the row-major uint8 pixels. A real compression round-trip (not a
# pass-through), so the decoder seam is exercised end-to-end in pytest
# without external imaging libraries.

def encode_zlib_gray8(arr: np.ndarray) -> bytes:
    """Encode a 2-D uint8 array with the repo's stdlib bitmap codec."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError("encode_zlib_gray8: expected a 2-D gray image")
    return struct.pack(">II", *a.shape) + zlib.compress(a.tobytes())


def decode_zlib_gray8(payload: bytes) -> np.ndarray:
    """Decode the stdlib bitmap codec — a working :data:`Decoder`."""
    h, w = struct.unpack(">II", payload[:8])
    px = np.frombuffer(zlib.decompress(payload[8:]), dtype=np.uint8)
    return px.reshape(h, w)


# -- real PNG codec (stdlib only): 8-bit grayscale, non-interlaced --
# PNG is DEFLATE (zlib) over per-scanline filtered bytes plus CRC-32
# framed chunks — every primitive is in the stdlib, so the "real
# codec" decode path is exercisable offline (r4 verdict #6). The
# decoder validates the signature, every chunk CRC, and the IHDR
# (8-bit, color type 0 = grayscale, no interlace), reassembles the
# IDAT stream, and inverts all five scanline filters (None/Sub/Up/
# Average/Paeth, RFC 2083 §6). The encoder emits spec-conformant
# PNGs and can cycle filter types per row so round-trip tests cover
# every filter.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (RFC 2083): nearest of left/up/up-left to
    a + b - c, ties resolved left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png_gray8(arr: np.ndarray, filters=(0,)) -> bytes:
    """Encode a 2-D uint8 array as a real 8-bit grayscale PNG.

    ``filters`` cycles per scanline (row y uses
    ``filters[y % len(filters)]``), so ``filters=(0, 1, 2, 3, 4)``
    produces a stream that exercises every PNG filter type."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError("encode_png_gray8: expected a 2-D gray image")
    h, w = a.shape
    prior = np.zeros(w, dtype=np.uint8)
    raw = bytearray()
    for y in range(h):
        row = a[y]
        ft = int(filters[y % len(filters)])
        left = np.concatenate(([0], row[:-1])).astype(np.uint8)
        upleft = np.concatenate(([0], prior[:-1])).astype(np.uint8)
        if ft == 0:
            out = row
        elif ft == 1:
            out = row - left  # uint8 wraparound == mod-256 delta
        elif ft == 2:
            out = row - prior
        elif ft == 3:
            out = row - ((left.astype(np.uint16)
                          + prior.astype(np.uint16)) // 2).astype(
                              np.uint8)
        elif ft == 4:
            pred = np.array(
                [_paeth(int(left[x]), int(prior[x]), int(upleft[x]))
                 for x in range(w)], dtype=np.uint8)
            out = row - pred
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        raw.append(ft)
        raw.extend(out.tobytes())
        prior = row

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)
                              & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def decode_png_gray8(payload: bytes) -> np.ndarray:
    """Decode a real 8-bit grayscale non-interlaced PNG byte stream —
    a working :data:`Decoder` for the non-fake media path, pure
    stdlib (zlib inflate + CRC-32 + the five scanline filters)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("decode_png_gray8: not a PNG signature")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos:pos + 4])
        if pos + 12 + ln > len(payload):
            raise ValueError(
                "decode_png_gray8: truncated chunk (declared length "
                f"{ln} runs past end of payload)")
        tag = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + ln:pos + 12 + ln])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(
                f"decode_png_gray8: bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            if len(data) != 13:
                raise ValueError(
                    f"decode_png_gray8: IHDR length {len(data)} != 13")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("decode_png_gray8: missing IHDR")
    if not idat:
        raise ValueError("decode_png_gray8: missing IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if (depth, ctype, comp, filt, interlace) != (8, 0, 0, 0, 0):
        raise ValueError(
            "decode_png_gray8: only 8-bit grayscale (color type 0), "
            f"non-interlaced PNGs are supported; IHDR={ihdr}")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as ex:
        raise ValueError(
            f"decode_png_gray8: bad IDAT deflate stream: {ex}") from ex
    if len(raw) != h * (w + 1):
        raise ValueError("decode_png_gray8: IDAT length mismatch")
    img = np.zeros((h, w), dtype=np.uint8)
    prior = np.zeros(w, dtype=np.uint8)
    for y in range(h):
        line = np.frombuffer(
            raw[y * (w + 1):(y + 1) * (w + 1)], dtype=np.uint8)
        ft, row = int(line[0]), line[1:]
        if ft == 0:
            recon = row.copy()
        elif ft == 1:
            # Sub with bpp=1 is a running mod-256 prefix sum
            recon = np.cumsum(row.astype(np.uint64)).astype(np.uint8)
        elif ft == 2:
            recon = row + prior
        elif ft == 3:
            recon = np.zeros(w, dtype=np.uint8)
            left = 0
            for x in range(w):
                left = (int(row[x]) + (left + int(prior[x])) // 2) & 255
                recon[x] = left
        elif ft == 4:
            recon = np.zeros(w, dtype=np.uint8)
            left = upleft = 0
            for x in range(w):
                left = (int(row[x])
                        + _paeth(left, int(prior[x]), upleft)) & 255
                recon[x] = left
                upleft = int(prior[x])
        else:
            raise ValueError(f"decode_png_gray8: bad filter byte {ft}")
        img[y] = recon
        prior = recon
    return img


def _array_features(arr: np.ndarray, dim: int) -> np.ndarray:
    """Deterministic feature vector of a decoded pixel/sample array:
    shape dims then global moments, zero-padded/truncated to ``dim``."""
    a = np.asarray(arr, dtype=np.float64)
    feats = [float(arr.shape[0]),
             float(arr.shape[1]) if arr.ndim > 1 else 1.0,
             float(a.mean()), float(a.std()),
             float(a.min()), float(a.max()),
             float(np.median(a)),
             float(np.abs(np.diff(a.ravel())).mean()) if a.size > 1
             else 0.0]
    out = np.zeros(dim, dtype=np.float64)
    n = min(dim, len(feats))
    out[:n] = feats[:n]
    return out


def _fake_features(ref: str, dim: int) -> np.ndarray:
    """Deterministic stand-in for decode→feature-extract.

    feature[i] = uint64(first 8 md5 bytes of ``f"{ref}:{i}"``) / 2^64 —
    pure hash arithmetic, NOT a PRNG, so the DuckDB oracle reproduces it
    bit-identically in SQL (``CAST('0x' || substr(md5(..),1,16) AS
    UBIGINT)``, the same technique as the SimHash oracle) and the driver
    can value-check the whole multimodal plumbing path instead of
    counting rows."""
    return np.array([
        int.from_bytes(hashlib.md5(f"{ref}:{i}".encode()).digest()[:8],
                       "big") / 2.0**64
        for i in range(dim)], dtype=np.float64)


_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("feature", T.ArrayType(T.DoubleType())),
])


def media_features(media_spans: DataFrame, dim: int = 8,
                   fake: bool = True,
                   decoder: Optional[Decoder] = None) -> DataFrame:
    """Decode + feature-extract media spans via ``mapInPandas``.

    Input: (doc_id, media_ref[, payload]). Arrow batches flow through
    one Python worker pass; per-batch the features are computed
    vectorized.

    The decode step is INJECTABLE: pass ``decoder`` (any
    :data:`Decoder` — bytes → ndarray) and a binary ``payload`` column
    and the non-fake path runs the real codec + :func:`_array_features`
    per payload. Without a decoder, ``fake=True`` uses the
    hash-deterministic stand-in (oracle-checkable); ``fake=False``
    raises, documenting that this environment ships no imaging libs.
    """
    use_payload = decoder is not None
    cols = (["doc_id", "media_ref", "payload"] if use_payload
            else ["doc_id", "media_ref"])

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if use_payload:
                feats = [_array_features(decoder(bytes(p)), dim).tolist()
                         for p in pdf["payload"]]
            elif fake:
                feats = [_fake_features(r, dim).tolist()
                         for r in pdf["media_ref"]]
            else:
                raise NotImplementedError("real media decode unavailable")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "feature": feats,
            })

    return media_spans.select(*cols).mapInPandas(
        extract, schema=_FEATURE_SCHEMA)


def media_span_stats(docs: DataFrame) -> DataFrame:
    """Per-document media statistics straight off the nested spans column —
    no explode shuffle, pure array expressions."""
    media = F.filter("spans", lambda s: s["kind"] == F.lit("media"))
    bands = F.array_distinct(F.transform(
        media, lambda s: F.element_at(F.split(s["media_ref"], "/"), 5)))
    return docs.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.size(media).alias("n_media"),
        F.size(bands).alias("n_bands"),
        F.size(F.filter("spans", lambda s: s["kind"] == F.lit("text"))).alias("n_text"),
    )


def media_span_stats_sql(docs_path: str) -> str:
    return f"""
SELECT doc_id,
       len(spans) AS n_spans,
       len(list_filter(spans, s -> s.kind = 'media')) AS n_media,
       len(list_distinct(list_transform(
           list_filter(spans, s -> s.kind = 'media'),
           s -> str_split(s.media_ref, '/')[5]))) AS n_bands,
       len(list_filter(spans, s -> s.kind = 'text')) AS n_text
FROM read_parquet('{docs_path}')
"""
