"""SNAP biophysical-processor neural network as a vectorized matrix kernel.

Re-expresses the reference's per-pixel MLP (biophys.py:188-273) Spark-first:
one Arrow-batched pandas UDF performing a single ``(batch, 11) @ (11, 5)``
matmul per variable, weights captured in the UDF closure (broadcast to
executors once per task — the arrays total < 1 KB).

Faithful reference semantics reproduced exactly:
- feature order [B3,B4,B5,B6,B7,B8A,B11,B12, cos(rad(view_zenith)),
  cos(rad(sun_zenith)), cos(rad(sun_azimuth - view_azimuth))]
  (biophys.py:276-325);
- input domain check on the 8 *un-normalized* bands only (biophys.py:200-221);
- normalization 2(x-min)/(max-min) - 1 (biophys.py:188-192);
- tanh hidden layer, linear output (biophys.py:235-241);
- denormalization 0.5 (y+1)(max-min) — the reference formula omits ``+min``
  (biophys.py:194-198); reproduced verbatim for numerical parity;
- output extreme-case handling with the exact strict inequalities and
  assignment order of biophys.py:223-233.

Weights are the public ESA SNAP s2tbx auxdata (version 2_1), bundled under
``snap_auxdata/`` (source: github.com/senbox-org/s2tbx biophysical resources).
"""

from __future__ import annotations

from functools import lru_cache
from importlib import resources
from typing import Dict, List

import numpy as np

from ..constants import BIOPHYS_VARIABLES, SNAP_BIO_BANDS

N_FEATURES = 11


def _aux(variable: str, name: str):
    """Zip-safe auxdata handle: works from a filesystem checkout and from a
    ``spark-submit --py-files satellitetools_spark.zip`` archive alike."""
    return resources.files(__package__) / "snap_auxdata" / variable / name


@lru_cache(maxsize=None)
def load_nn_params(variable: str) -> Dict[str, np.ndarray]:
    """Load the 8 auxdata arrays for one variable (biophys.py:130-186)."""
    if variable not in BIOPHYS_VARIABLES:
        raise ValueError(f"unknown biophysical variable {variable!r}")

    def ld(suffix: str) -> np.ndarray:
        with _aux(variable, f"{variable}_{suffix}").open("r") as f:
            return np.loadtxt(f, delimiter=",")

    defdom = ld("DefinitionDomain_MinMax")
    return {
        "norm_min": ld("Normalisation")[:, 0],            # (11,)
        "norm_max": ld("Normalisation")[:, 1],            # (11,)
        "denorm_min": float(ld("Denormalisation")[0]),
        "denorm_max": float(ld("Denormalisation")[1]),
        "w1": ld("Weights_Layer1_Neurons").reshape(5, N_FEATURES),
        "b1": ld("Weights_Layer1_Bias").reshape(5),
        "w2": ld("Weights_Layer2_Neurons").reshape(5),
        "b2": float(np.atleast_1d(ld("Weights_Layer2_Bias"))[0]),
        "defdom_min": defdom[0, :],                        # (8,)
        "defdom_max": defdom[1, :],                        # (8,)
        "extreme": ld("ExtremeCases"),                     # (tolerance, min, max)
    }


def run_nn(features: np.ndarray, variable: str) -> np.ndarray:
    """Run the SNAP MLP on an (N, 11) feature matrix; returns (N,) float64.

    NaN inputs and out-of-domain inputs yield NaN (callers convert to NULL).
    One matmul over the whole batch — no per-row Python.
    """
    p = load_nn_params(variable)
    x = np.asarray(features, dtype=np.float64)
    if x.ndim != 2 or x.shape[1] != N_FEATURES:
        raise ValueError(f"expected (N, {N_FEATURES}) features, got {x.shape}")

    # Input-domain check on the 8 raw bands (biophys.py:200-221): any band
    # outside [defdom_min, defdom_max] voids the whole pixel vector.
    bands = x[:, :8]
    with np.errstate(invalid="ignore"):
        bad = np.any((bands < p["defdom_min"]) | (bands > p["defdom_max"]), axis=1)
    bad |= np.any(np.isnan(x), axis=1)

    xn = 2.0 * (x - p["norm_min"]) / (p["norm_max"] - p["norm_min"]) - 1.0
    h = np.tanh(xn @ p["w1"].T + p["b1"])
    y = h @ p["w2"] + p["b2"]
    y = 0.5 * (y + 1.0) * (p["denorm_max"] - p["denorm_min"])  # no +min: parity

    # Output extreme cases (biophys.py:223-233) — conditions are disjoint for
    # either sign of tolerance; strict inequalities leave exact boundary
    # values untouched, as in the reference.
    tol, omin, omax = p["extreme"]
    out = y.copy()
    with np.errstate(invalid="ignore"):
        out[y < (omin + tol)] = np.nan
        out[(y > (omin + tol)) & (y < omin)] = omin
        out[(y < (omax - tol)) & (y > omax)] = omax
        out[y > (omax - tol)] = np.nan
    out[bad] = np.nan
    return out


FEATURE_EXPRS: List[str] = SNAP_BIO_BANDS + [
    "COS(RADIANS(view_zenith))",
    "COS(RADIANS(sun_zenith))",
    "COS(RADIANS(sun_azimuth - view_azimuth))",
]


def snap_sql_expr(variable: str, round_digits: int | None = None) -> str:
    """Generate an ANSI-SQL scalar expression computing the SNAP NN.

    Used as the independent DuckDB oracle for the pandas-UDF kernel: the
    11→5→1 MLP unrolled into literal arithmetic over the wide band columns
    (B3..B12, view/sun angles). Runs on any engine with TANH/RADIANS.
    """
    p = load_nn_params(variable)
    lit = lambda v: repr(float(v))  # noqa: E731 — full-precision float literal
    feats = []
    for j, e in enumerate(FEATURE_EXPRS):
        mn, mx = p["norm_min"][j], p["norm_max"][j]
        feats.append(f"(2.0*(({e}) - ({lit(mn)}))/({lit(mx - mn)}) - 1.0)")
    neurons = []
    for i in range(5):
        terms = " + ".join(
            f"({lit(p['w1'][i, j])})*{feats[j]}" for j in range(N_FEATURES)
        )
        arg = f"(({lit(p['b1'][i])}) + {terms})"
        # tanh via exp identity — DuckDB 1.0 has no TANH; saturates
        # correctly at ±1 when exp overflows to inf / underflows to 0
        neurons.append(f"(1.0 - 2.0/(EXP(2.0*{arg}) + 1.0))")
    raw = " + ".join(f"({lit(p['w2'][i])})*{neurons[i]}" for i in range(5))
    y = (f"(0.5*(({lit(p['b2'])}) + {raw} + 1.0)"
         f"*({lit(p['denorm_max'] - p['denorm_min'])}))")

    tol, omin, omax = (float(v) for v in p["extreme"])
    dom_checks = " OR ".join(
        f"{b} < ({lit(p['defdom_min'][i])}) OR {b} > ({lit(p['defdom_max'][i])})"
        for i, b in enumerate(SNAP_BIO_BANDS)
    )
    expr = (
        f"CASE WHEN ({dom_checks}) THEN NULL "
        f"WHEN {y} < ({omin + tol!r}) THEN NULL "
        f"WHEN {y} > ({omax - tol!r}) THEN NULL "
        f"WHEN {y} > ({omin + tol!r}) AND {y} < ({omin!r}) THEN ({omin!r}) "
        f"WHEN {y} < ({omax - tol!r}) AND {y} > ({omax!r}) THEN ({omax!r}) "
        f"ELSE {y} END"
    )
    if round_digits is not None:
        expr = f"ROUND({expr}, {round_digits})"
    return expr


# ---------------------------------------------------------------------------
# Definition-domain GRID check — the reference's disabled convex-hull stand-in
# ---------------------------------------------------------------------------

def load_domain_grid() -> np.ndarray:
    """The SNAP definition-domain grid: the quantized (cell-level) hull
    of the NN training domain, one row per occupied 8-d grid cell
    (`biophys.py:170-172`; the file is byte-identical across all five
    variables in the 2_1 auxdata, so one vendored copy under LAI/
    serves all). Public ESA SNAP s2tbx auxdata, same provenance as the
    bundled weights."""
    with _aux("LAI", "LAI_DefinitionDomain_Grid").open("r") as f:
        return np.loadtxt(f, delimiter=",").astype(np.int64)


def grid_cell_exprs(variable: str):
    """The reference's quantization (`biophys.py:213-215`):
    ``floor(10·(v − defdom_min)/(defdom_max − defdom_min) + 1)`` per
    band — returned as ONE shared SQL string per band, rendered into
    both engines so the cell ids are computed textually identically."""
    p = load_nn_params(variable)
    out = []
    for i, b in enumerate(SNAP_BIO_BANDS):
        lo = repr(float(p["defdom_min"][i]))
        hi = repr(float(p["defdom_max"][i]))
        out.append(f"CAST(FLOOR(10.0 * ({b} - {lo}) / ({hi} - {lo})"
                   f" + 1.0) AS BIGINT)")
    return out


def domain_grid_check(px):
    """The reference's DISABLED convex-hull input check
    (`biophys.py:16-18, 211-218` — "computationally slow"), made fast:
    the original tests each pixel's quantized 8-band cell against the
    ~11k-row definition-domain grid with a per-vector Python ``any()``
    scan (O(pixels × grid) interpreted comparisons — why it was turned
    off). Here the grid is a BROADCAST hash side and the test is one
    JVM hash-join probe per pixel: quantize each band with the
    reference's exact formula, concat to a cell key, LEFT join the
    broadcast grid keys — ``in_domain`` true iff the cell is occupied
    AND every band lies inside [defdom_min, defdom_max] (out-of-range
    pixels quantize onto grid-range cells, so the range guard is part
    of the check, as in the reference's combined mask). Adds the
    boolean column; no shuffle of the pixel frame, no Python.
    """
    from pyspark.sql import functions as F
    spark = px.sparkSession
    grid = load_domain_grid()
    keys = [",".join(str(int(c)) for c in row) for row in grid]
    gdf = spark.createDataFrame([(k,) for k in keys], "gkey string") \
        .withColumn("_hit", F.lit(1))
    p = load_nn_params("LAI")
    cells = grid_cell_exprs("LAI")
    key = F.concat_ws(",", *[F.expr(c).cast("string") for c in cells])
    rng = None
    for i, b in enumerate(SNAP_BIO_BANDS):
        ok = ((F.col(b) >= float(p["defdom_min"][i]))
              & (F.col(b) <= float(p["defdom_max"][i])))
        rng = ok if rng is None else (rng & ok)
    out = (px.withColumn("gkey", key)
           .join(F.broadcast(gdf), "gkey", "left")
           .withColumn("in_domain",
                       (F.col("_hit").isNotNull() & rng))
           .drop("gkey", "_hit"))
    return out


def domain_grid_check_sql(pixels_sql: str, variable: str,
                          grid_csv_path: str) -> str:
    """DuckDB oracle: identical quantization strings + the same grid
    join over the vendored CSV. ``pixels_sql`` must yield the 8 band
    columns plus any passthrough columns."""
    p = load_nn_params(variable)
    cells = grid_cell_exprs(variable)
    key = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cells)
    rng = " AND ".join(
        f"({b} >= {float(p['defdom_min'][i])!r}"
        f" AND {b} <= {float(p['defdom_max'][i])!r})"
        for i, b in enumerate(SNAP_BIO_BANDS))
    return f"""
WITH dgp AS ({pixels_sql}),
dgg AS (
  SELECT CAST(CAST(column0 AS BIGINT) AS VARCHAR)
         || ',' || CAST(CAST(column1 AS BIGINT) AS VARCHAR)
         || ',' || CAST(CAST(column2 AS BIGINT) AS VARCHAR)
         || ',' || CAST(CAST(column3 AS BIGINT) AS VARCHAR)
         || ',' || CAST(CAST(column4 AS BIGINT) AS VARCHAR)
         || ',' || CAST(CAST(column5 AS BIGINT) AS VARCHAR)
         || ',' || CAST(CAST(column6 AS BIGINT) AS VARCHAR)
         || ',' || CAST(CAST(column7 AS BIGINT) AS VARCHAR) AS gkey,
         1 AS _hit
  FROM read_csv('{grid_csv_path}', header = false)
),
dgk AS (
  SELECT dgp.*, ({key}) AS gkey FROM dgp
)
SELECT dgk.* EXCLUDE (gkey),
       (dgg._hit IS NOT NULL AND {rng}) AS in_domain
FROM dgk LEFT JOIN dgg USING (gkey)
"""
