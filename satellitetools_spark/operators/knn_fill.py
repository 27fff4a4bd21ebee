"""kNN pixel gap-filling (north-star requirement).

Fills NULL band values of inside-AOI pixels from the k nearest non-null
pixels of the *same scene and band* (inverse-distance-weighted mean).
Executed per document group with ``applyInPandas`` — groups are AOI-sized
(hundreds of pixels), independent, and embarrassingly parallel, so the
operator scales with document count, not AOI size. The neighbor search is
vectorized NumPy over the group's coordinate arrays (cell-grid partitioning
inside a group is unnecessary at AOI scale).
"""

from __future__ import annotations

from typing import List

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame


def knn_fill(pixels: DataFrame, bands: List[str]) -> DataFrame:
    """Return ``pixels`` with NULL band values replaced by IDW-kNN fills
    (adds ``<band>_filled`` flags)."""
    from pyspark.sql import types as T
    # build a NEW StructType — StructType.add mutates in place, which would
    # corrupt the input DataFrame's cached schema
    out_schema = T.StructType(
        list(pixels.schema.fields)
        + [T.StructField(f"{b}_filled", T.BooleanType()) for b in bands])

    def fill_group(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(dtype=float)
        y = pdf["y"].to_numpy(dtype=float)
        for b in bands:
            v = pdf[b].to_numpy(dtype=float, na_value=np.nan)
            missing = np.isnan(v)
            pdf[f"{b}_filled"] = missing
            if not missing.any() or missing.all():
                continue
            good = ~missing
            gx, gy, gv = x[good], y[good], v[good]
            # deterministic neighbor order: distance, then (x, y) — ties at
            # equal distance are common on a regular grid and must resolve
            # identically to the SQL oracle's ORDER BY d2, x, y
            order = np.lexsort((gy, gx))
            gx, gy, gv = gx[order], gy[order], gv[order]
            mx, my = x[missing], y[missing]
            # vectorized distance matrix: (n_missing, n_good)
            d2 = (mx[:, None] - gx[None, :]) ** 2 + (my[:, None] - gy[None, :]) ** 2
            kk = min(4, len(gv))
            # stable argsort keeps the (x, y) pre-sort as the tiebreaker
            idx = np.argsort(d2, axis=1, kind="stable")[:, :kk]
            rows = np.arange(len(mx))[:, None]
            dk = np.sqrt(d2[rows, idx])
            wk = 1.0 / np.maximum(dk, 1e-9)
            fills = (gv[idx] * wk).sum(axis=1) / wk.sum(axis=1)
            v[missing] = fills
            pdf[b] = v
        return pdf

    return pixels.groupBy("doc_id").applyInPandas(fill_group, schema=out_schema)
