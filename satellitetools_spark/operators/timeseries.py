"""Per-date AOI timeseries statistics (A3–A10) as one hash-aggregation.

Reference: ``xr_dataset_to_timeseries`` (timeseries.py:43-128). Parity
notes — quirks reproduced deliberately:

- std is the *population* std (xarray default ddof=0), not sample std;
- a date is dropped when sample_n == 0 for *any* requested variable: the
  reference filters the shared dataset inside its per-variable loop, so the
  output rows are the intersection (timeseries.py:91-97);
- sample-size adjustment for upsampled data (gsd < 20 m): n / (20/gsd)²,
  floored at 1 (timeseries.py:131-169). For SNAP variables it is applied
  once for the standard error and then *again* inside
  ``compute_uncertainty`` (timeseries.py:103 + 215) — a double division the
  engine reproduces;
- RMSE propagation truncates n with ``int()``:
  rmse_mean = sqrt(floor(n)·rmse²)/n (timeseries.py:189);
- uncertainty = sqrt(std² + rmse_mean²) for SNAP variables else std
  (timeseries.py:237-240); CI = mean ± z·uncertainty with the SNAP lower
  bound clamped to ≥ 0 (timeseries.py:283-288);
- aoi_nan_percentage = (aoi_pixels − n)/aoi_pixels with *unadjusted* n
  (timeseries.py:120-126), using the exact inside-AOI pixel count.

Everything is built-in column expressions — a single groupBy with
partial+final hash aggregation, then whole-stage-codegen projections.
"""

from __future__ import annotations

from typing import Iterable, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import BIOPHYS_COLUMN, CONFIDENCE_LEVELS, SNAP_BIO_RMSE

# RMSE keyed by output column name ('lai', 'fapar', ...)
SNAP_RMSE_BY_COL = {BIOPHYS_COLUMN[k]: v for k, v in SNAP_BIO_RMSE.items()}


def _adjust(n, gsd):
    """n / (20/gsd)² floored at 1, only when upsampled (gsd < 20)."""
    mult = F.pow(F.lit(20.0) / gsd, F.lit(2.0))
    return F.when(gsd < 20.0, F.greatest(F.lit(1.0), n / mult)).otherwise(n)


def dataset_to_timeseries(
    pixels: DataFrame,
    variables: Iterable[str],
    add_uncertainty: bool = False,
    add_confidence_intervals: bool = False,
    confidence_level: str = "95",
    median_accuracy: int | None = None,
) -> DataFrame:
    """Reduce the long pixel table to per-(aoi, time) statistics.

    ``median_accuracy=None`` (default) computes the exact median with
    ``percentile`` — bit-parity with the reference, but the agg buffers
    every value of a group, so a hot (aoi, date) with 10^8+ pixels holds
    them all in one task's memory. Passing an accuracy (e.g. 10000) switches
    to ``percentile_approx`` — a constant-size mergeable sketch with rank
    error ≤ n/accuracy, the form that survives arbitrarily large groups at
    the 100 TB scale (map-side partial sketches merge associatively; no
    per-group value buffering). All other statistics are identical.
    """
    variables: List[str] = list(variables)
    if confidence_level not in CONFIDENCE_LEVELS:
        raise ValueError("Unknown confidence level")
    z, ci_min_sfx, ci_max_sfx = CONFIDENCE_LEVELS[confidence_level]

    aggs = [
        F.first("aoi_pixels").alias("_aoi_pixels"),
        F.first("gsd").alias("_gsd"),
    ]
    for v in variables:
        aggs += [
            F.count(F.col(v)).cast("double").alias(f"_n_{v}"),
            F.avg(v).alias(v),
            (F.percentile_approx(v, 0.5, median_accuracy)
             if median_accuracy else
             F.expr(f"percentile({v}, 0.5)")).alias(f"{v}_F050"),
            F.stddev_pop(v).alias(f"{v}_std"),
        ]
    g = pixels.groupBy("aoi", F.col("acquisition_time").alias("time")).agg(*aggs)

    # A4 intersection semantics: drop dates where any variable has n == 0
    for v in variables:
        g = g.filter(F.col(f"_n_{v}") > 0)

    gsd = F.col("_gsd")
    cols = [F.col("aoi"), F.col("time")]
    for v in variables:
        n = F.col(f"_n_{v}")
        std = F.col(f"{v}_std")
        is_snap = v in SNAP_RMSE_BY_COL
        n_se = _adjust(n, gsd) if is_snap else n
        cols += [F.col(v), F.col(f"{v}_F050"), std,
                 (std / F.sqrt(n_se)).alias(f"{v}_se")]
        if add_uncertainty or add_confidence_intervals:
            if is_snap:
                rmse = F.lit(SNAP_RMSE_BY_COL[v])
                n_unc = _adjust(n_se, gsd)  # reference double-adjustment
                rmse_mean = F.sqrt(F.floor(n_unc) * rmse * rmse) / n_unc
                unc = F.sqrt(std * std + rmse_mean * rmse_mean)
            else:
                unc = std
            unc = unc.alias(f"{v}_uncertainty")
            cols.append(unc)
        cols.append(((F.col("_aoi_pixels") - n) / F.col("_aoi_pixels"))
                    .alias(f"{v}_aoi_nan_percentage"))

    out = g.select(*cols)
    # the CI reads the uncertainty column → second projection
    if add_confidence_intervals:
        for v in variables:
            lo = F.col(v) - F.lit(z) * F.col(f"{v}_uncertainty")
            hi = F.col(v) + F.lit(z) * F.col(f"{v}_uncertainty")
            if v in SNAP_RMSE_BY_COL:
                lo = F.when(lo < 0, F.lit(0.0)).otherwise(lo)
            out = out.withColumn(f"{v}{ci_min_sfx}", lo)
            out = out.withColumn(f"{v}{ci_max_sfx}", hi)
    return out
