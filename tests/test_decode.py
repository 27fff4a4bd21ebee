"""End-to-end decode + spatial-join parity vs the NumPy brute-force oracle.

The engine path (span explode → chunk decode → window assembly → resample →
ray-cast PIP) must reproduce the oracle table (analytic window
→ brute-force ray cast) exactly: same rows, same coordinates, same values.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from satellitetools_spark import rasterops as R
from satellitetools_spark.constants import (
    S2_BANDS_10_20,
    SCL_CLASSES,
    SNAP_BIO_BANDS,
)
from satellitetools_spark.datagen import ensure_geodata
from satellitetools_spark.operators.indices import (
    compute_vegetation_index,
    with_all_indices,
)
from satellitetools_spark.rasterops import parse_media_ref
from satellitetools_spark.sources import (
    decode_documents,
    explode_spans,
    read_documents,
    reassemble_documents,
)
from satellitetools_spark.sources.decode import (
    REF_SEP,
    _decode_one,
    decode_input,
    qi_percentages,
)


@pytest.fixture(scope="module")
def docs(spark, geodata_small):
    return read_documents(spark, os.path.join(geodata_small, "docs.parquet"))


@pytest.fixture(scope="module")
def docs_mid(spark, geodata_mid):
    return read_documents(spark, os.path.join(geodata_mid, "docs.parquet"))


@pytest.fixture(scope="module")
def oracle(geodata_small):
    return pd.read_parquet(os.path.join(geodata_small, "oracle_pixels.parquet"))


def test_span_roundtrip_invariant(spark, docs):
    """W4: explode → reassemble preserves span-sequence equality per doc."""
    back = reassemble_documents(explode_spans(docs))
    a = docs.select("doc_id", "spans").toPandas().set_index("doc_id").sort_index()
    b = back.select("doc_id", "spans").toPandas().set_index("doc_id").sort_index()
    assert list(a.index) == list(b.index)
    for d in a.index:
        sa = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in a.loc[d, "spans"]]
        sb = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in b.loc[d, "spans"]]
        assert sa == sb, f"span sequence broken for {d}"


def test_decode_matches_oracle_rows_and_values(spark, docs, oracle):
    got = decode_documents(docs).toPandas()
    want = oracle[oracle["inside"]].copy()

    assert len(got) == len(want), (len(got), len(want))

    key = ["doc_id", "x", "y"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)

    # join membership: exactly the same pixels
    pd.testing.assert_frame_equal(
        got[key], want[key], check_exact=True)

    # values: identical (same float ops on both paths)
    for band in ["B2", "B3", "B4", "B8A", "B11", "B12"]:
        g = got[band].to_numpy(dtype=float)
        w = want[band].to_numpy(dtype=float)
        np.testing.assert_allclose(g, w, rtol=0, atol=0, equal_nan=True)
    np.testing.assert_array_equal(
        got["SCL"].to_numpy(), want["SCL"].to_numpy())

    # exact aoi_pixels per doc (A9, exact-count semantics)
    ga = got.groupby("doc_id")["aoi_pixels"].first()
    wa = want.groupby("doc_id")["aoi_pixels"].first()
    pd.testing.assert_series_equal(ga, wa, check_dtype=False)


def test_decode_scl_only_projection(spark, docs, oracle):
    """Band pruning: ``bands=["SCL"]`` decodes only the SCL band, on the
    document's target grid."""
    scl = decode_documents(docs, bands=["SCL"]).toPandas()
    want = oracle[oracle["inside"]]
    assert "B4" not in scl.columns
    assert len(scl) == len(want)
    key = ["doc_id", "x", "y"]
    g = scl.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(g[key], w[key], check_exact=True)
    np.testing.assert_array_equal(g["SCL"].to_numpy(), w["SCL"].to_numpy())


def _nan_counts(df):
    cols = [f.name for f in df.schema.fields
            if isinstance(f.dataType, T.DoubleType)]
    row = df.select([F.sum(F.isnan(c).cast("long")).alias(c)
                     for c in cols]).first()
    return {c: row[c] for c in cols}


def test_decode_outputs_null_not_nan(spark, docs_mid):
    """No-data reaches Spark as NULL, never NaN, in both Python passes.
    (``toPandas`` turns NULL back into NaN, so this is checked in Spark.)"""
    px = decode_documents(docs_mid, vi_vars=["ndvi"], snap_vars=["LAI"])
    for df in (px, qi_percentages(docs_mid)):
        counts = _nan_counts(df)
        assert counts and all(v == 0 for v in counts.values()), counts
    missing = px.filter(F.col("aoi") == "problematic_missing").select(
        [F.sum(F.col(b).isNull().cast("long")).alias(b)
         for b in S2_BANDS_10_20]).first()
    assert all(missing[b] > 0 for b in S2_BANDS_10_20), missing


def test_qi_pass_uses_document_qi_scale(spark, docs_mid, geodata_mid):
    """The QI pass decodes SCL at the AOI record's ``qi_evaluation_scale``:
    set to 10 m on the 10 m-target AOIs, the class fractions equal those of
    the target-grid pixel oracle."""
    aois = ["multipolygon", "problematic_corner"]
    docs10 = docs_mid.withColumn("spans", F.transform("spans", lambda s: (
        s.withField("text", F.regexp_replace(
            s["text"], r'"qi_evaluation_scale": 20\.0',
            '"qi_evaluation_scale": 10.0')))))
    got = (qi_percentages(docs10).filter(F.col("aoi").isin(aois))
           .toPandas().set_index("doc_id").sort_index())
    px = pd.read_parquet(os.path.join(geodata_mid, "oracle_pixels.parquet"))
    px = px[px["inside"] & px["aoi"].isin(aois)]
    want = pd.DataFrame({
        c: (px["SCL"] == i).groupby(px["doc_id"]).mean()
        for i, c in enumerate(SCL_CLASSES)}).sort_index()
    assert len(got) == 20
    assert list(got.index) == list(want.index)
    np.testing.assert_allclose(
        got[SCL_CLASSES].to_numpy(dtype=float),
        want[SCL_CLASSES].to_numpy(dtype=float), rtol=0, atol=0)


def _band_refs(data_dir):
    d = pd.read_parquet(os.path.join(data_dir, "docs.parquet"))
    return {r.doc_id: {s["media_ref"] for s in r.spans if s["media_ref"]}
            for r in d.itertuples()}


def test_torn_documents_decode_missing_chunks_as_no_data(spark, geodata_mid):
    """The ragged dataset drops one chunk span from some documents. Its
    decode must agree with the untorn decode wherever it has a value, and a
    chunk dropped at the window edge must decode as NULL, not as values
    made up beyond the fetched chunks."""
    ragged = ensure_geodata("sf0.01r")
    bands = ["B3", "B5"]

    def decode(data_dir):
        d = read_documents(spark, os.path.join(data_dir, "docs.parquet"))
        return (decode_documents(d, bands=bands).toPandas()
                .set_index(["doc_id", "x", "y"]).sort_index())

    clean, torn = decode(geodata_mid), decode(ragged)
    assert clean.index.equals(torn.index)
    for b in bands:
        ok = torn[b].notna()
        np.testing.assert_array_equal(torn.loc[ok, b].to_numpy(),
                                      clean.loc[ok, b].to_numpy())

    # (doc, band) pairs whose dropped chunk lies outside the remaining
    # chunks' extent: their targets reach past the assembled window
    clean_refs, torn_refs = _band_refs(geodata_mid), _band_refs(ragged)
    edge = []
    for doc_id, refs in torn_refs.items():
        for gone in clean_refs[doc_id] - refs:
            _, _, band, _, cy, cx = parse_media_ref(gone)
            rest = [parse_media_ref(r) for r in refs if f"/{band}/" in r]
            if not (min(p[4] for p in rest) <= cy <= max(p[4] for p in rest)
                    and min(p[5] for p in rest) <= cx <= max(p[5] for p in rest)):
                edge.append((doc_id, band))
    assert edge
    for doc_id, band in edge:
        c, t = clean.loc[doc_id, band], torn.loc[doc_id, band]
        assert (t.isna() & c.notna()).any(), (doc_id, band)


def test_decode_vi_equals_the_index_column_on_the_same_decode(spark, docs):
    """``vi_vars`` adds the one ``operators.indices`` expression: the
    decode's ``ndvi`` equals ``compute_vegetation_index`` over the same
    decode, exactly, and is the last column."""
    fused = decode_documents(docs, vi_vars=["ndvi"])
    plain = decode_documents(docs)
    assert fused.columns == plain.columns + ["ndvi"]
    key = ["doc_id", "x", "y"]
    got = fused.toPandas().sort_values(key).reset_index(drop=True)
    want = (compute_vegetation_index(plain, "ndvi").toPandas()
            .sort_values(key).reset_index(drop=True))
    assert got["ndvi"].notna().any()
    np.testing.assert_array_equal(got["ndvi"].to_numpy(),
                                  want["ndvi"].to_numpy())


def test_indices_on_a_zero_denominator_are_null(spark):
    """A zero denominator gives a NULL index, as the DuckDB oracle does,
    not ``DIVIDE_BY_ZERO`` under ANSI mode; the other rows keep their
    values."""
    cols = ["B2", "B3", "B4", "B5", "B7", "B8A"]
    df = spark.createDataFrame(
        [(0.1, 0.2, 0.0, 0.0, 0.3, 0.0), (0.1, 0.2, 0.1, 0.2, 0.3, 0.3)],
        cols)
    rows = with_all_indices(df).orderBy("B8A").collect()
    assert rows[0]["ndvi"] is None and rows[0]["ci_red_edge"] is None
    assert rows[0]["gcc"] == 0.2 / (0.1 + 0.2 + 0.0)
    assert rows[1]["ndvi"] == (0.3 - 0.1) / (0.3 + 0.1)
    assert rows[1]["ci_red_edge"] == 0.3 / 0.2 - 1


def test_band_with_no_chunk_decodes_as_no_data(spark, docs_mid):
    """A document whose spans carry no chunk of a band decodes that band
    as NULL (and so the SNAP net over it), never as values made up from
    the analytic field; every other document is unchanged."""
    victim = sorted(r.doc_id for r in docs_mid.select("doc_id").collect())[0]
    stripped = docs_mid.withColumn("spans", F.filter("spans", lambda s: ~(
        (F.col("doc_id") == victim)
        & F.coalesce(s["media_ref"].contains("/B5/"), F.lit(False)))))

    def decode(d):
        return (decode_documents(d, bands=SNAP_BIO_BANDS, snap_vars=["LAI"])
                .toPandas().set_index(["doc_id", "x", "y"]).sort_index())

    clean, torn = decode(docs_mid), decode(stripped)
    assert clean.index.equals(torn.index)
    hit = torn.index.get_level_values("doc_id") == victim
    assert hit.any() and clean.loc[hit, "B5"].notna().all()
    assert torn.loc[hit, "B5"].isna().all() and torn.loc[hit, "lai"].isna().all()
    assert torn.loc[hit, "B4"].equals(clean.loc[hit, "B4"])
    pd.testing.assert_frame_equal(torn[~hit], clean[~hit], check_exact=True)


def test_decode_parses_each_media_ref_once(spark, docs, monkeypatch):
    """Each chunk ref is parsed once per document decode: the parsed tuple
    addresses both the chunk decode and the window assembly."""
    bands = S2_BANDS_10_20 + ["SCL"]
    rows = [r.asDict() for r in decode_input(docs, bands).collect()]
    calls = []
    real = R.parse_media_ref

    def counting(ref):
        calls.append(ref)
        return real(ref)

    monkeypatch.setattr(R, "parse_media_ref", counting)
    n_refs = 0
    for raw in rows:
        refs = [r for r in raw["media_refs"].split(REF_SEP) if r]
        assert {real(r)[2] for r in refs} <= set(bands)
        n_refs += len(refs)
        _decode_one(raw, bands, [])
    assert n_refs > 0 and len(calls) == n_refs


def test_aoi_grid_memo_evicts_lru_not_everything():
    """Past 256 (AOI, zone, gsd) keys the memo evicts the least recently
    used grid; a key that keeps being requested stays cached."""
    from satellitetools_spark.sources.decode import _aoi_grid

    aoi = ('{"type": "Polygon", "coordinates": [[[24.0, 61.0], '
           '[24.002, 61.0], [24.002, 61.001], [24.0, 61.001], '
           '[24.0, 61.0]]]}')
    _aoi_grid.cache_clear()
    hot = (aoi, 35, 20.0)
    _aoi_grid(*hot)
    for i in range(300):
        _aoi_grid(aoi, 35, 10.0 + 0.01 * i)
        hits = _aoi_grid.cache_info().hits
        _aoi_grid(*hot)
        assert _aoi_grid.cache_info().hits == hits + 1
        assert _aoi_grid.cache_info().currsize <= 256
    _aoi_grid.cache_clear()


def test_aoi_grid_mask_matches_winding_oracle():
    """The decode's AOI inside-mask equals the independent winding-number
    point-in-polygon on every AOI grid the data uses: each AOI of every
    benchmark input variant (which includes the gate data's reference
    AOIs), at its target GSD and at the QI scale. No Spark."""
    from perfbench import inputs as PI
    from satellitetools_spark import geometry as G
    from satellitetools_spark.groundtruth import points_in_rings_winding
    from satellitetools_spark.sources.decode import _aoi_grid

    grids = set()
    for v in range(PI.N_VARIANTS):
        for rings, _tiles, zone, gsd in PI.geo_registry(v).values():
            geojson = G.rings_to_geojson(rings)
            grids |= {(geojson, zone, gsd), (geojson, zone, 20.0)}
    assert len(grids) == 393
    _aoi_grid.cache_clear()
    for geojson, zone, gsd in sorted(grids):
        _txs, _tys, px, py, _cells, inside, n_in = _aoi_grid(geojson, zone, gsd)
        rings_utm = G.project_rings_to_utm(G.rings_from_geojson(geojson), zone)
        np.testing.assert_array_equal(
            inside, points_in_rings_winding(px, py, rings_utm))
        assert n_in == int(inside.sum()) > 0
    _aoi_grid.cache_clear()


def test_decode_schemas_equal_explicit_field_lists():
    """Both mapInPandas schemas, built from the decode's one name→type
    table, equal the explicit field lists: pixel schema for the flagship
    (SNAP bands), QI (SCL only) and default band sets, and the QI schema.
    No Spark."""
    from satellitetools_spark.constants import SNAP_BIO_BANDS
    from satellitetools_spark.sources.decode import QI_SCHEMA, pixel_schema

    S, D, TS = T.StringType(), T.DoubleType(), T.TimestampType()
    scene = [("aoi", S), ("tileid", S), ("assetid", S), ("productid", S),
             ("acquisition_time", TS)]
    head = [("doc_id", S), *scene, ("x", D), ("y", D), ("cell", T.LongType())]
    tail = [("sun_azimuth", D), ("sun_zenith", D), ("view_azimuth", D),
            ("view_zenith", D), ("aoi_pixels", T.IntegerType()), ("gsd", D)]

    def struct(fields):
        return T.StructType([T.StructField(n, t) for n, t in fields])

    for bands in (SNAP_BIO_BANDS, ["SCL"], S2_BANDS_10_20 + ["SCL"]):
        band_fields = [(b, T.IntegerType() if b == "SCL" else D)
                       for b in bands]
        want = struct(head + band_fields + tail)
        assert pixel_schema(bands).json() == want.json(), bands
    want_qi = struct([("doc_id", S), *scene, ("projection", S),
                      ("datasource", S), ("processing", S),
                      ("target_gsd", D)]
                     + [(c, D) for c in SCL_CLASSES])
    assert QI_SCHEMA.json() == want_qi.json()
