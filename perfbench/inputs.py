"""Seeded input generation for the benchmark workloads, cached per seed.

Every input is a pure function of ``(workload, seed)``. The seed picks:

* geo (``flagship_lai``, ``ingest_ndvi``): which clone slots of the
  datagen clone grid carry an AOI, each clone's position jitter, the
  document-to-file layout, and (ingest) the base/increment split;
* text (``corpus_train``): the base corpus words and every replica's word
  shuffle.

Cost-relevant shape (AOI count per ground-sample distance, date count,
file count, document count) is fixed, so different seeds measure the same
amount of work on different data.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from satellitetools_spark import datagen as DG
from satellitetools_spark import geometry as G
from satellitetools_spark import rasterops as R

# One input variant per residue: every variant has a pinned output digest
# (digests.json), so any --seed maps onto a checked input.
N_VARIANTS = 16

GEO_DATES = 24
GEO_CLONES = 24          # of CLONE_SLOTS qvidja copies on the hot tile
CLONE_SLOTS = 64         # the datagen clone grid: 8 columns x 8 rows
CLONE_JITTER_DEG = 0.004
GEO_FILES = 32           # >= 3 x cores: the decode fuses with the scan
INGEST_BASE_FRAC = 0.5
INGEST_INCREMENTS = 8
INGEST_FILES_PER_INC = 4

TEXT_BASE_DOCS = 3000
TEXT_REPLICAS = 2
TEXT_FILES = 8
TEXT_ID_STRIDE = 10_000_000
TEXT_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
TEXT_LANGS = ("en", "zh", "es", "fr", "de")

PROBE_DATES = 6
PROBE_TEXT_DOCS = 500


def variant(seed: int) -> int:
    return seed % N_VARIANTS


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([variant(seed), sum(map(ord, stream))])


# ---------------------------------------------------------------------------
# geo: interleaved Sentinel-2 documents
# ---------------------------------------------------------------------------

def geo_registry(seed: int, n_clones: int = GEO_CLONES) -> dict:
    """All reference AOIs plus a seeded subset of jittered qvidja clones."""
    rng = _rng(seed, "aoi")
    reg = {n: ([np.asarray(r, float) for r in rings], tiles, zone, gsd)
           for n, (rings, tiles, zone, gsd) in DG.BASE_AOIS.items()}
    slots = np.sort(rng.choice(CLONE_SLOTS, n_clones, replace=False))
    jitter = rng.uniform(-CLONE_JITTER_DEG, CLONE_JITTER_DEG, (n_clones, 2))
    for k, (dx, dy) in zip(slots.tolist(), jitter):
        shift = np.array([0.018 * ((k % 8) + 1) + dx,
                          0.011 * ((k // 8) + 1) + dy])
        reg[f"clone_{k:02d}"] = (
            [np.asarray(DG.QVIDJA_EC, float) + shift], ["34VEM"], 34, 20.0)
    return reg


def geo_documents(seed: int, n_dates: int = GEO_DATES,
                  n_clones: int = GEO_CLONES) -> list:
    """Document dicts in datagen's layout (``datagen.build_documents``
    over a seeded registry): one document per (AOI, date), a legacy
    duplicate on every 4th date of qvidja and its clones, and the
    'difficult' AOI alternating between two tiles."""
    docs = []
    dates = DG._dates(n_dates)
    registry = geo_registry(seed, n_clones)
    for name, (rings4326, tiles, zone, gsd) in sorted(registry.items()):
        rings_utm = G.project_rings_to_utm(rings4326, zone)
        txs, tys = R.target_grid(G.rings_bounds(rings_utm), gsd)
        cover = (txs[0] - gsd, tys[0] - gsd, txs[-1] + gsd, tys[-1] + gsd)
        aoi_json = json.dumps({
            "type": "aoi", "name": name,
            "geometry": json.loads(G.rings_to_geojson(rings4326)),
            "crs": "EPSG:4326", "utm_zone": zone,
            "target_gsd": gsd, "qi_evaluation_scale": 20.0,
        })
        for di, t in enumerate(dates):
            tile = tiles[di % len(tiles)]
            productid = DG._product_id(tile, t)
            variants = [("c1", "sentinel-2-c1-l2a-to-stac")]
            if di % 4 == 1 and (name == "qvidja_ec" or name.startswith("clone")):
                variants.append(("legacy", "sentinel2-to-stac"))
            refs = [ref for band in DG.BANDS
                    for ref in R.chunk_refs_for_bbox(tile, productid, band, cover)]
            for suffix, processing in variants:
                assetid = f"S2A_{tile}_{t.strftime('%Y%m%d')}_0_L2A_{suffix}"
                meta = {
                    "type": "scene_meta", "productid": productid,
                    "assetid": assetid, "tileid": tile,
                    "acquisition_time": t.strftime("%Y-%m-%d %H:%M:%S"),
                    "projection": f"EPSG:{32600 + zone}",
                    "datasource": "synthetic_cog", "processing": processing,
                    **DG._obs_geometry(productid),
                }
                spans = [("text", json.dumps(meta), "", 0),
                         ("text", aoi_json, "", 1)]
                spans += [("media", "", ref, 2 + i) for i, ref in enumerate(refs)]
                docs.append({"doc_id": f"{name}:{productid}:{assetid}",
                             "spans": spans})
    return docs


def _write_geo(docs: list, path: str, n_files: int) -> None:
    """Write ``docs`` as ``n_files`` parquet files in the given order."""
    os.makedirs(path, exist_ok=True)
    for fi, part in enumerate(np.array_split(np.arange(len(docs)), n_files)):
        rows = [docs[i] for i in part]
        pq.write_table(pa.table({
            "doc_id": pa.array([d["doc_id"] for d in rows], pa.string()),
            "spans": pa.array(
                [[{"kind": k, "text": x, "media_ref": r, "offset": o}
                  for (k, x, r, o) in d["spans"]] for d in rows],
                pa.list_(DG._SPAN_TYPE)),
        }), os.path.join(path, f"part-{fi:05d}.parquet"))


def _build_flagship(seed: int, out: str) -> dict:
    docs = geo_documents(seed)
    order = _rng(seed, "layout").permutation(len(docs))
    _write_geo([docs[i] for i in order], os.path.join(out, "docs"), GEO_FILES)
    return {"docs": len(docs)}


def _build_ingest(seed: int, out: str) -> dict:
    docs = geo_documents(seed)
    order = _rng(seed, "split").permutation(len(docs))
    n_base = int(len(docs) * INGEST_BASE_FRAC)
    _write_geo([docs[i] for i in order[:n_base]],
               os.path.join(out, "base"), GEO_FILES)
    incs = np.array_split(order[n_base:], INGEST_INCREMENTS)
    for k, idx in enumerate(incs):
        _write_geo([docs[i] for i in idx], os.path.join(out, f"inc_{k:02d}"),
                   INGEST_FILES_PER_INC)
    return {"docs": len(docs), "base_docs": n_base,
            "increment_docs": [len(i) for i in incs]}


# ---------------------------------------------------------------------------
# text: the documents table of the corpus pipeline
# ---------------------------------------------------------------------------

def text_base(seed: int) -> dict:
    """A corpus with the sf0.1 documents table's shape: 10-100 words drawn
    from its 30-word vocabulary, a language label, 20 sources, and a few
    planted exact duplicates."""
    rng = _rng(seed, "text")
    lens = rng.integers(10, 101, TEXT_BASE_DOCS)
    words = rng.integers(0, len(TEXT_VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(TEXT_VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    for src in rng.choice(TEXT_BASE_DOCS, 8, replace=False):
        texts[(src + 1) % TEXT_BASE_DOCS] = texts[src]
    return {
        "doc_id": np.arange(TEXT_BASE_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [TEXT_LANGS[i] for i in rng.integers(0, len(TEXT_LANGS), TEXT_BASE_DOCS)],
        "source": [f"src{i % 20}" for i in range(TEXT_BASE_DOCS)],
    }


def _shuffle_words(text: str, replica: int, seed: int) -> str:
    """Replica text: the same words in a new order, as in
    ``scripts/sf1_rehearsal.py``. Length, vocabulary and language
    statistics are preserved; the order depends on the text itself, so a
    duplicate pair stays a duplicate inside each replica but shares no
    word order with other replicas."""
    h = int.from_bytes(hashlib.md5(text.encode()).digest()[:4], "big")
    rng = np.random.default_rng([h, replica, variant(seed)])
    words = text.split()
    out = " ".join(words[i] for i in rng.permutation(len(words)))
    if out == text and len(words) > 1:
        out = " ".join(words[1:] + words[:1])
    return out


def _build_corpus(seed: int, out: str) -> dict:
    base = text_base(seed)
    cols = {k: [] for k in ("doc_id", "text", "lang", "source")}
    for k in range(TEXT_REPLICAS):
        cols["doc_id"].append(base["doc_id"] + k * TEXT_ID_STRIDE)
        cols["text"] += (base["text"] if k == 0 else
                         [_shuffle_words(t, k, seed) for t in base["text"]])
        cols["lang"] += base["lang"]
        cols["source"] += base["source"]
    doc_id = np.concatenate(cols["doc_id"])
    order = _rng(seed, "layout").permutation(len(doc_id))
    table = pa.table({
        "doc_id": pa.array(doc_id[order]),
        "text": pa.array([cols["text"][i] for i in order], pa.string()),
        "lang": pa.array([cols["lang"][i] for i in order], pa.string()),
        "source": pa.array([cols["source"][i] for i in order], pa.string()),
    })
    table = table.append_column(
        "n_chars", pa.array([len(t) for t in table["text"].to_pylist()], pa.int64()))
    path = os.path.join(out, "docs")
    os.makedirs(path, exist_ok=True)
    for fi, idx in enumerate(np.array_split(np.arange(len(doc_id)), TEXT_FILES)):
        pq.write_table(table.take(idx), os.path.join(path, f"part-{fi:05d}.parquet"))
    return {"docs": len(doc_id)}


def _build_probe(seed: int, out: str) -> dict:
    """Small inputs for the layers off a workload's path (traced runs):
    the reference AOIs over the first dates, and the first base-corpus
    documents."""
    _write_geo(geo_documents(seed, PROBE_DATES, 0), os.path.join(out, "geo"), 4)
    base = text_base(seed)
    path = os.path.join(out, "text")
    os.makedirs(path, exist_ok=True)
    texts = base["text"][:PROBE_TEXT_DOCS]
    pq.write_table(pa.table({
        "doc_id": pa.array(base["doc_id"][:PROBE_TEXT_DOCS]),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(base["lang"][:PROBE_TEXT_DOCS], pa.string()),
        "source": pa.array(base["source"][:PROBE_TEXT_DOCS], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "part-00000.parquet"))
    return {}


BUILDERS = {
    "flagship_lai": _build_flagship,
    "ingest_ndvi": _build_ingest,
    "corpus_train": _build_corpus,
    "probe": _build_probe,
}


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple:
    """Generate (once) the inputs of ``workload`` (or ``'probe'``) for
    ``seed``.

    Returns ``(directory, info, generation_seconds)``; the seconds are 0.0
    on a cache hit. ``info['docs']`` is the input document count.
    """
    out = os.path.join(cache_root, f"{workload}-v{variant(seed)}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, json.load(f), 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    info = BUILDERS[workload](seed, out)
    with open(marker, "w") as f:
        json.dump(info, f)
    return out, info, time.perf_counter() - t0
