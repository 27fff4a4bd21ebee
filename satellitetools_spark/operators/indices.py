"""Vegetation indices as pure column expressions (whole-stage codegen).

Reference formulas (biophys.py:365-446): NDVI = (B8A-B4)/(B8A+B4),
CI_RED_EDGE = B7/B5 - 1, GCC = B3/(B2+B3+B4). NULL propagates like the
reference's NaN. Each divides with ``try_divide``: a zero denominator
gives NULL, as the DuckDB oracle does, instead of raising
``DIVIDE_BY_ZERO`` under ANSI mode. These are the engine's one VI
implementation: the decode (``sources.decode.decode_documents``) adds
them over its Python pass's output, and the gated queries use them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ndvi_col() -> Column:
    return F.try_divide(F.col("B8A") - F.col("B4"), F.col("B8A") + F.col("B4"))


def ci_red_edge_col() -> Column:
    return F.try_divide(F.col("B7"), F.col("B5")) - 1


def gcc_col() -> Column:
    return F.try_divide(F.col("B3"), F.col("B2") + F.col("B3") + F.col("B4"))


_DISPATCH = {
    "ndvi": ndvi_col,
    "ci_red_edge": ci_red_edge_col,
    "gcc": gcc_col,
}


def compute_vegetation_index(pixels: DataFrame, vi: str) -> DataFrame:
    """F13: add the named vegetation-index column."""
    vi = vi.lower()
    if vi not in _DISPATCH:
        raise ValueError(f"Vegetation index {vi!r} not found.")
    return pixels.withColumn(vi, _DISPATCH[vi]())


def with_all_indices(pixels: DataFrame) -> DataFrame:
    out = pixels
    for name, fn in _DISPATCH.items():
        out = out.withColumn(name, fn())
    return out
