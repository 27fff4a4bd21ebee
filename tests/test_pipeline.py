"""Full-pipeline parity vs an independent pandas/NumPy reimplementation of
the reference semantics (SURVEY §5 oracle (b)): QI percentages + filtering +
dedup + tile mode + NDVI/LAI timeseries statistics."""

import os

import numpy as np
import pandas as pd
import pytest

from satellitetools_spark.biophys.nn import run_nn
from satellitetools_spark.constants import S2_FILTER1, SCL_CLASSES, SNAP_BIO_BANDS
from satellitetools_spark.plans import flagship_timeseries, get_s2_qi_and_data
from satellitetools_spark.sources import read_documents

Z95 = 1.96


@pytest.fixture(scope="module")
def world(geodata_small):
    d = geodata_small
    return {
        "scenes": pd.read_parquet(os.path.join(d, "scenes.parquet")),
        "scl20": pd.read_parquet(os.path.join(d, "oracle_scl20.parquet")),
        "pixels": pd.read_parquet(os.path.join(d, "oracle_pixels.parquet")),
    }


def oracle_qi(world) -> pd.DataFrame:
    rows = []
    for doc_id, g in world["scl20"].groupby("doc_id"):
        ins = g[g["inside"]]
        pct = {c: np.nan for c in SCL_CLASSES}
        if len(ins):
            for i, c in enumerate(SCL_CLASSES):
                pct[c] = float((ins["SCL"] == i).mean())
        rows.append({"doc_id": doc_id, **pct})
    return pd.DataFrame(rows).merge(world["scenes"], on="doc_id")


def oracle_survivors(world, qi_threshold=0.02) -> pd.DataFrame:
    qi = oracle_qi(world)
    qi = qi.dropna(subset=SCL_CLASSES)
    qi = qi[qi[S2_FILTER1].sum(axis=1) <= qi_threshold]
    # dedup: prefer c1 processing, then assetid
    qi = qi.assign(_p=(~qi["processing"].str.contains("sentinel-2-c1-l2a-to-stac")).astype(int))
    qi = qi.sort_values(["_p", "assetid"]).groupby(["aoi", "productid"], as_index=False).first()
    # tile mode per aoi (ties → lexicographically smallest tile)
    keep = []
    for aoi, g in qi.groupby("aoi"):
        counts = g.groupby("tileid").size()
        best = counts[counts == counts.max()].index.min()
        keep.append(g[g["tileid"] == best])
    return pd.concat(keep).reset_index(drop=True)


def test_qi_and_filter_match_oracle(spark, geodata_small, world):
    docs = read_documents(spark, os.path.join(geodata_small, "docs.parquet"))
    qi, pixels = get_s2_qi_and_data(docs, bands=["B4", "B8A", "SCL"])
    got_qi = qi.toPandas().sort_values("doc_id").reset_index(drop=True)
    want_qi = oracle_qi(world).sort_values("doc_id").reset_index(drop=True)
    assert list(got_qi["doc_id"]) == list(want_qi["doc_id"])
    for c in SCL_CLASSES:
        np.testing.assert_allclose(
            got_qi[c].to_numpy(dtype=float), want_qi[c].to_numpy(dtype=float),
            rtol=0, atol=1e-12, equal_nan=True)

    surv = oracle_survivors(world)
    got_docs = sorted(r["doc_id"] for r in pixels.select("doc_id").distinct().collect())
    assert got_docs == sorted(surv["doc_id"])


def oracle_timeseries(world, variables=("ndvi", "lai")) -> pd.DataFrame:
    surv = oracle_survivors(world)
    px = world["pixels"]
    px = px[px["inside"] & px["doc_id"].isin(surv["doc_id"])].copy()
    px = px.merge(world["scenes"][["doc_id", "sun_azimuth", "sun_zenith",
                                   "view_azimuth", "view_zenith", "target_gsd"]],
                  on="doc_id")
    px["ndvi"] = (px["B8A"] - px["B4"]) / (px["B8A"] + px["B4"])
    feats = np.column_stack(
        [px[b].to_numpy(dtype=float) for b in SNAP_BIO_BANDS]
        + [np.cos(np.radians(px["view_zenith"])),
           np.cos(np.radians(px["sun_zenith"])),
           np.cos(np.radians(px["sun_azimuth"] - px["view_azimuth"]))])
    px["lai"] = run_nn(feats, "LAI")

    rows = []
    for (aoi, t), g in px.groupby(["aoi", "acquisition_time"]):
        gsd = g["target_gsd"].iloc[0]
        aoi_px = g["aoi_pixels"].iloc[0]
        row = {"aoi": aoi, "time": t}
        ok = True
        for v, is_snap, rmse in [("ndvi", False, None), ("lai", True, 0.89)]:
            vals = g[v].to_numpy(dtype=float)
            n = float(np.sum(~np.isnan(vals)))
            if n == 0:
                ok = False
                break
            mult = (20.0 / gsd) ** 2
            n_se = max(1.0, n / mult) if (is_snap and gsd < 20) else n
            std = float(np.nanstd(vals))  # ddof=0
            row[v] = float(np.nanmean(vals))
            row[f"{v}_F050"] = float(np.nanmedian(vals))
            row[f"{v}_std"] = std
            row[f"{v}_se"] = std / np.sqrt(n_se)
            if is_snap:
                n2 = max(1.0, n_se / mult) if gsd < 20 else n_se
                rmse_mean = np.sqrt(int(n2) * rmse**2) / n2
                unc = np.sqrt(std**2 + rmse_mean**2)
            else:
                unc = std
            row[f"{v}_uncertainty"] = unc
            lo, hi = row[v] - Z95 * unc, row[v] + Z95 * unc
            row[f"{v}_F0025"] = max(0.0, lo) if is_snap else lo
            row[f"{v}_F0975"] = hi
            row[f"{v}_aoi_nan_percentage"] = (aoi_px - n) / aoi_px
        if ok:
            rows.append(row)
    return pd.DataFrame(rows).sort_values(["aoi", "time"]).reset_index(drop=True)


def test_flagship_timeseries_matches_oracle(spark, geodata_small, world):
    docs = read_documents(spark, os.path.join(geodata_small, "docs.parquet"))
    got = flagship_timeseries(docs).toPandas()
    want = oracle_timeseries(world)
    got = got.sort_values(["aoi", "time"]).reset_index(drop=True)
    assert len(got) == len(want), (len(got), len(want))
    assert list(got["aoi"]) == list(want["aoi"])
    for c in want.columns:
        if c in ("aoi", "time"):
            continue
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float),
            rtol=1e-9, atol=1e-12, equal_nan=True, err_msg=c)


def test_timeseries_approx_median_close_to_exact(spark, geodata_small):
    from satellitetools_spark.operators.timeseries import dataset_to_timeseries
    from satellitetools_spark.plans.pipeline import get_s2_qi_and_data
    from satellitetools_spark.sources import read_documents

    docs = read_documents(spark, os.path.join(geodata_small, "docs.parquet"))
    _qi, px = get_s2_qi_and_data(docs, vi_vars=["ndvi"])
    exact = {(r["aoi"], r["time"]): r["ndvi_F050"] for r in
             dataset_to_timeseries(px, ["ndvi"]).collect()}
    approx = {(r["aoi"], r["time"]): r["ndvi_F050"] for r in
              dataset_to_timeseries(px, ["ndvi"],
                                    median_accuracy=10000).collect()}
    assert set(exact) == set(approx) and exact
    for key, v in exact.items():
        # sketch rank error n/accuracy < 1 at this group size: the sketch
        # returns a true element adjacent to the exact (interpolated) median
        assert abs(approx[key] - v) <= 0.02, (key, approx[key], v)
