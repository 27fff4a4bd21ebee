"""Driver-contract registry invariants: every `queries()` entry must have
a matching `oracle_sql()` twin (the correctness gate is only as strong as
this mapping), names must be unique and stable, and the oracle strings
must be plausible SQL — catching a renamed query, a dropped oracle, or a
paste error before the driver does."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402


def test_every_query_has_an_oracle():
    q = E.queries()
    o = E.oracle_sql()
    missing = sorted(set(q) - set(o))
    extra = sorted(set(o) - set(q))
    # Round 4 closed the rows-only list: the seven non-SQL-expressible
    # loops (PAV pooling, DTW recurrence, IRLS solve, hull selection,
    # DP recursion, kriging solve, S-H edge walk) now ship
    # ground-truth-parquet oracles re-computed by INDEPENDENT
    # implementations (satellitetools_spark/groundtruth.py), so every
    # registered query is value-checked.
    assert missing == [], f"queries without oracles: {missing}"
    assert extra == [], f"oracles without queries: {extra}"


def test_registry_size_never_shrinks():
    # coverage is a one-way ratchet: round 3 shipped 124 gate queries
    assert len(E.queries()) >= 124


def test_all_queries_callable_and_oracles_sqlish():
    for name, fn in E.queries().items():
        assert callable(fn), name
    for name, sql in E.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_entry_ndvi_on_a_zero_denominator_is_null(spark, monkeypatch):
    """Under ANSI mode a pixel with ``B4 = B8A = 0`` gives a NULL NDVI in
    the gated queries, as in the indices module and the DuckDB oracle,
    instead of ``DIVIDE_BY_ZERO``."""
    import datetime as dt
    t = dt.datetime(2024, 5, 1, 10, 0, 0)
    pixels = spark.createDataFrame(
        [("a", 1, t, 10.0, 10.0, 0.0, 0.0, True),
         ("a", 1, t, 30.0, 10.0, 0.1, 0.3, True),
         ("b", 2, t, 50.0, 10.0, 0.0, 0.0, True)],
        "aoi string, doc_id long, acquisition_time timestamp, x double, "
        "y double, B4 double, B8A double, inside boolean")
    monkeypatch.setattr(E, "_geo", lambda spark, sf_dir, name: pixels)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        series = {r["aoi"]: r["mean_ndvi"]
                  for r in E._ndvi_series(spark, "unused").collect()}
        best = {r["x"]: r["best_ndvi"]
                for r in E.q_geo_composite(spark, "unused").collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert series == {"a": round((0.3 - 0.1) / (0.3 + 0.1), 6), "b": None}
    assert best[10.0] is None and best[50.0] is None
    assert best[30.0] == round((0.3 - 0.1) / (0.3 + 0.1), 6)
