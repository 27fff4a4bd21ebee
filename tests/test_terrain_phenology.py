"""Round-3b operators: seasonal harmonic fit, threshold phenology,
Moran's I, D8 flow direction, greenest-pixel composite.

Each test checks SEMANTICS against a planted ground truth (recovered
sinusoid, tilted-plane drainage, checkerboard anticorrelation, …) —
oracle-twin equality is the gate's job (scripts/check_correctness.py)."""

import math

import pytest

from pyspark.sql import functions as F

from satellitetools_spark.operators import spatial as SP
from satellitetools_spark.operators import temporal as TP


def _series(spark, rows):
    return spark.createDataFrame(rows, "aoi string, date_str string, v double")


def test_harmonic_fit_recovers_planted_sinusoid(spark):
    import datetime
    w = 2.0 * math.pi / 365.25
    rows = []
    for d in range(1, 366, 5):
        date = (datetime.date(2024, 1, 1)
                + datetime.timedelta(days=d - 1)).isoformat()
        doy = d
        v = 0.4 + 0.25 * math.cos(w * doy) - 0.1 * math.sin(w * doy)
        rows.append(("a", date, v))
    out = TP.harmonic_fit(_series(spark, rows), value_col="v").collect()[0]
    assert out["n_obs"] == 73
    assert out["a0"] == pytest.approx(0.4, abs=1e-5)
    assert out["a1"] == pytest.approx(0.25, abs=1e-5)
    assert out["b1"] == pytest.approx(-0.1, abs=1e-5)
    assert out["amplitude"] == pytest.approx(math.hypot(0.25, 0.1), abs=1e-5)
    assert out["r2"] == pytest.approx(1.0, abs=1e-6)


def test_harmonic_fit_r2_null_on_constant_series(spark):
    rows = [("a", f"2024-01-{d:02d}", 0.5) for d in range(1, 11)]
    out = TP.harmonic_fit(_series(spark, rows),
                          value_col="v").collect()[0]
    assert out["r2"] is None  # SST = 0 guard, not a NaN/inf leak


def test_phenology_triangle_season(spark):
    # ramp 0.1→0.9 (days 1-9), back down; amplitude midpoint = 0.5
    dates = [f"2024-01-{d:02d}" for d in range(1, 18)]
    vals = [0.1 * min(d, 18 - d) for d in range(1, 18)]
    rows = [("a", dt, v) for dt, v in zip(dates, vals)]
    out = TP.phenology(_series(spark, rows), value_col="v").collect()[0]
    assert out["vmin"] == pytest.approx(0.1)
    assert out["vmax"] == pytest.approx(0.9)
    assert out["sos_date"] == "2024-01-05"   # first v >= 0.5
    assert out["peak_date"] == "2024-01-09"
    assert out["eos_date"] == "2024-01-13"   # last v >= 0.5
    assert out["season_days"] == 8
    assert out["n_above"] == 9


def test_phenology_peak_tie_breaks_to_latest_date(spark):
    rows = [("a", "2024-01-01", 0.2), ("a", "2024-01-02", 0.8),
            ("a", "2024-01-03", 0.8), ("a", "2024-01-04", 0.3)]
    out = TP.phenology(_series(spark, rows), value_col="v").collect()[0]
    assert out["peak_date"] == "2024-01-03"


def _dem(spark, cells):
    rows = [(iy * 2 ** 32 + ix, float(v)) for ix, iy, v in cells]
    return spark.createDataFrame(rows, "cell long, elevation double")


def test_morans_i_stripes_are_negative(spark):
    # vertical stripes: 6 of a cell's 8 queen neighbors are the other
    # color (checkerboard would NOT work — its 4 diagonal neighbors are
    # the same color and cancel the 4 rook ones, leaving I ≈ 0⁻)
    cells = [(x, y, 1.0 if x % 2 == 0 else 0.0)
             for x in range(6) for y in range(6)]
    out = SP.morans_i(SP.dem_pixels(_dem(spark, cells))).collect()[0]
    assert out["n_cells"] == 36
    # queen links on a 6x6 grid: 2*(2*5*6 + 2*5*5) = 220
    assert out["w_links"] == 220
    assert out["moran_i"] < -0.4          # strong dispersion
    assert out["e_i"] == pytest.approx(-1.0 / 35, abs=1e-6)


def test_morans_i_smooth_gradient_is_positive(spark):
    cells = [(x, y, float(x)) for x in range(6) for y in range(6)]
    out = SP.morans_i(SP.dem_pixels(_dem(spark, cells))).collect()[0]
    assert out["moran_i"] > 0.5           # strong clustering


def test_flow_direction_tilted_plane_drains_east(spark):
    # elevation decreases with x → steepest descent is due east (code 1)
    cells = [(x, y, 100.0 - 10.0 * x) for x in range(4) for y in range(4)]
    out = {(r["ix"], r["iy"]): r
           for r in SP.flow_direction(_dem(spark, cells)).collect()}
    assert len(out) == 16
    for (ix, iy), r in out.items():
        if ix < 3:                        # interior + west edge: east
            assert r["flow_code"] == 1, (ix, iy)
            assert r["best_drop"] == pytest.approx(10.0)
        else:                             # east edge: no lower neighbor
            assert r["flow_code"] == 0
            assert r["n_lower"] == 0


def test_flow_direction_pit_and_tie_break(spark):
    # single pit at center of a bowl: center codes 0, ring drains inward
    cells = [(x, y, 0.0 if (x, y) == (1, 1) else 10.0)
             for x in range(3) for y in range(3)]
    rows = {(r["ix"], r["iy"]): r
            for r in SP.flow_direction(_dem(spark, cells)).collect()}
    assert rows[(1, 1)]["flow_code"] == 0
    assert rows[(1, 1)]["n_lower"] == 0
    # corner (0,0): only lower neighbor is the diagonal pit (SE... in
    # grid terms (dx=1, dy=1) = code 128)
    assert rows[(0, 0)]["flow_code"] == 128
    # edge (1,0): pit sits at (dx=0, dy=1) = code 64; straight distance
    # beats any tie
    assert rows[(1, 0)]["flow_code"] == 64


def test_greenest_composite_argmax_and_tiebreak(spark):
    rows = [
        (0.0, 0.0, "d1", "2024-01-01", 0.5, 0.1),
        (0.0, 0.0, "d2", "2024-02-01", 0.9, 0.2),   # winner: max v
        (0.0, 0.0, "d3", "2024-03-01", 0.3, 0.3),
        (1.0, 0.0, "d1", "2024-01-01", 0.7, 0.4),
        (1.0, 0.0, "d2", "2024-02-01", 0.7, 0.5),   # tie → latest date
        (2.0, 0.0, "d1", "2024-01-01", None, 0.6),  # null v ignored
        (2.0, 0.0, "d2", "2024-02-01", 0.2, 0.7),
    ]
    df = spark.createDataFrame(
        rows, "x double, y double, doc_id string, date_str string,"
              " ndvi double, B4 double")
    out = {(r["x"], r["y"]): r for r in SP.greenest_composite(
        df, payload_cols=("B4",)).collect()}
    assert out[(0.0, 0.0)]["best_ndvi"] == 0.9
    assert out[(0.0, 0.0)]["best_doc_id"] == "d2"
    assert out[(0.0, 0.0)]["n_obs"] == 3
    assert out[(1.0, 0.0)]["best_date_str"] == "2024-02-01"
    assert out[(1.0, 0.0)]["best_B4"] == 0.5
    assert out[(2.0, 0.0)]["n_obs"] == 1
    assert out[(2.0, 0.0)]["best_ndvi"] == 0.2


def test_flow_direction_plan_is_single_join_no_window(spark):
    cells = [(x, y, float(x + y)) for x in range(3) for y in range(3)]
    plan = SP.flow_direction(_dem(spark, cells))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") <= 3    # two join sides + final agg
