"""SNAP NN kernel parity: golden TestCases vectors + transliterated oracle.

The ``*_TestCases`` auxdata (100 rows of 11 inputs + expected output per
variable) are the reference's own unused golden fixtures
(reference biophys/snap-auxdata/biophysical/2_1/<V>/<V>_TestCases).
"""

import numpy as np
import pytest

from satellitetools_spark.biophys import load_nn_params, run_nn
from satellitetools_spark.biophys.nn import _aux
from satellitetools_spark.constants import BIOPHYS_VARIABLES


def load_test_cases(variable: str) -> np.ndarray | None:
    """Golden vectors: 100 rows x (11 inputs + expected output), when present."""
    handle = _aux(variable, f"{variable}_TestCases")
    if not handle.is_file():
        return None
    with handle.open("r") as f:
        return np.loadtxt(f, delimiter=",")


def _oracle_nn(x: np.ndarray, variable: str) -> np.ndarray:
    """Independent transliteration of reference biophys.py:188-251 (column-
    vector convention, sequential masking) used to cross-check run_nn."""
    p = load_nn_params(variable)
    xt = x.T.copy()  # (11, N) as in the reference
    bands = xt[:8, :]
    bad = np.any(
        (bands < p["defdom_min"].reshape(-1, 1)) | (bands > p["defdom_max"].reshape(-1, 1)),
        axis=0,
    )
    xt[:, bad] = np.nan
    xn = 2 * (xt - p["norm_min"].reshape(-1, 1)) / (
        (p["norm_max"] - p["norm_min"]).reshape(-1, 1)
    ) - 1
    h = np.tanh(p["w1"].dot(xn) + p["b1"].reshape(-1, 1))
    y = p["w2"].reshape(1, -1).dot(h) + p["b2"]
    y = 0.5 * (y + 1) * (p["denorm_max"] - p["denorm_min"])
    tol, omin, omax = p["extreme"]
    out = np.copy(y)
    out[y < (omin + tol)] = np.nan
    out[(y > (omin + tol)) & (y < omin)] = omin
    out[(y < (omax - tol)) & (y > omax)] = omax
    out[y > (omax - tol)] = np.nan
    return out.ravel()


@pytest.mark.parametrize("variable", BIOPHYS_VARIABLES)
def test_nn_matches_transliterated_oracle(variable):
    rng = np.random.default_rng(42)
    p = load_nn_params(variable)
    n = 500
    # mostly in-domain, some out-of-domain and NaN
    span = p["defdom_max"] - p["defdom_min"]
    bands = p["defdom_min"] + rng.random((n, 8)) * span
    bands[:25] += span * 2          # out of domain high
    bands[25:50] -= span * 2        # out of domain low
    angles = np.column_stack([
        np.cos(np.radians(rng.uniform(0, 12, n))),
        np.cos(np.radians(rng.uniform(20, 70, n))),
        np.cos(np.radians(rng.uniform(-180, 180, n))),
    ])
    x = np.column_stack([bands, angles])
    got = run_nn(x, variable)
    want = _oracle_nn(x, variable)
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12, equal_nan=True)


@pytest.mark.parametrize("variable", BIOPHYS_VARIABLES)
def test_nn_golden_test_cases(variable):
    tc = load_test_cases(variable)
    if tc is None:
        pytest.skip(f"no TestCases fixture published for {variable}")
    x, expected = tc[:, :11], tc[:, 11]
    got = run_nn(x, variable)
    # The golden fixtures NaN-out vectors via SNAP's convex-hull definition-
    # domain check, which the reference deliberately disables
    # (biophys.py:211-218) — our kernel matches the *reference*. Compare the
    # rows both keep; golden values carry ~5-7 significant digits.
    keep = ~np.isnan(got) & ~np.isnan(expected)
    assert keep.sum() >= 25
    np.testing.assert_allclose(got[keep], expected[keep], rtol=5e-4, atol=1e-3)


def test_domain_grid_check_matches_reference_disabled_code(spark):
    """The broadcast-join domain check reproduces the reference's
    commented-out gridProject/isInGrid logic (biophys.py:211-218),
    reimplemented here in NumPy as the independent oracle."""
    import numpy as np

    from satellitetools_spark.biophys.nn import (SNAP_BIO_BANDS,
                                                 domain_grid_check,
                                                 load_domain_grid,
                                                 load_nn_params)

    grid = load_domain_grid()
    p = load_nn_params("LAI")
    lo, hi = p["defdom_min"], p["defdom_max"]
    rows, want = [], []
    # 20 vectors planted mid-cell on occupied cells (in-domain), using
    # grid rows whose cells stay within quantization range
    ok_rows = grid[(grid >= 1).all(axis=1) & (grid <= 10).all(axis=1)]
    for i, g in enumerate(ok_rows[:20]):
        v = lo + (g - 0.5) / 10.0 * (hi - lo)
        rows.append([int(i)] + [float(x) for x in v])
        want.append(1)
    # reference NumPy twin for arbitrary probe vectors (incl. off-grid)
    gset = {tuple(r) for r in grid.tolist()}
    rng = np.random.RandomState(8)
    for i in range(20, 40):
        v = lo + rng.rand(8) * (hi - lo)
        cell = np.floor(10 * (v - lo) / (hi - lo) + 1).astype(int)
        rows.append([i] + [float(x) for x in v])
        want.append(1 if tuple(cell.tolist()) in gset else 0)
    # clearly out-of-range vector -> always 0
    rows.append([99] + [float(x) for x in (hi * 2.0)])
    want.append(0)
    df = spark.createDataFrame(
        rows, ["pid"] + SNAP_BIO_BANDS)
    got = {r["pid"]: int(r["in_domain"])
           for r in domain_grid_check(df).collect()}
    for (row, w) in zip(rows, want):
        assert got[row[0]] == w, (row[0], got[row[0]], w)
