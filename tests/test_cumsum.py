"""Two-level distributed prefix sums (operators/cumsum.py) — the
single-partition-window replacement used by the rank/midrank/ECDF
family — plus the kendall_tau_b bounded-alphabet guard."""

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from satellitetools_spark.operators.cumsum import prefix_sums


def test_prefix_sums_matches_global_window_asc_and_desc(spark):
    df = spark.range(500).select(
        (F.col("id") * 37 % 101).cast("double").alias("v"),
        F.lit(1.0).alias("one"),
        (F.col("id") % 3).cast("double").alias("w"))
    h = df.groupBy("v").agg(F.sum("one").alias("t"),
                            F.sum("w").alias("sw"))
    for order, wspec in ((F.col("v").asc(), F.col("v").asc()),
                         (F.col("v").desc(), F.col("v").desc())):
        got, tot = prefix_sums(h, [order], ["t", "sw"],
                               num_partitions=7, return_totals=True)
        w = Window.orderBy(wspec).rowsBetween(
            Window.unboundedPreceding, 0)
        want = h.withColumn("et", F.sum("t").over(w)) \
                .withColumn("esw", F.sum("sw").over(w))
        gm = {r["v"]: (r["cum_t"], r["cum_sw"]) for r in got.collect()}
        for r in want.collect():
            assert gm[r["v"]] == (r["et"], r["esw"])  # bit-exact
        assert tot["t"] == 500.0
    # more requested partitions than rows still works
    tiny = spark.createDataFrame([(1.0, 2.0), (2.0, 3.0)], ["v", "t"])
    got = {r["v"]: r["cum_t"] for r in
           prefix_sums(tiny, [F.col("v").asc()], ["t"],
                       num_partitions=16).collect()}
    assert got == {1.0: 2.0, 2.0: 5.0}


def test_prefix_sums_no_single_partition_window_in_plan(spark):
    df = spark.range(100).select(F.col("id").cast("double").alias("v"),
                                 F.lit(1.0).alias("t"))
    out = prefix_sums(df, [F.col("v").asc()], ["t"], num_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Window node must carry a partition spec (the _pspid hash)
    for line in plan.splitlines():
        if "Window " in line or line.strip().startswith("Window"):
            assert "_pspid" in line, f"unpartitioned window: {line}"


def test_grouped_prefix_sums_matches_group_windows(spark):
    from satellitetools_spark.operators.cumsum import \
        grouped_prefix_sums
    df = spark.range(600).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 13 % 97).cast("double").alias("v"))
    h = df.groupBy("grp", "v").agg(
        F.count("*").cast("double").alias("nv"))
    got = grouped_prefix_sums(h, ["grp"], [F.col("v").asc()], ["nv"],
                              num_partitions=5)
    w = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0)
    wg = Window.partitionBy("grp")
    want = (h.withColumn("e_cum", F.sum("nv").over(w))
            .withColumn("e_tot", F.sum("nv").over(wg)))
    gm = {(r["grp"], r["v"]): (r["cum_nv"], r["tot_nv"])
          for r in got.collect()}
    rows = want.collect()
    assert len(gm) == len(rows)
    for r in rows:
        assert gm[(r["grp"], r["v"])] == (r["e_cum"], r["e_tot"])


def test_grouped_prefix_sums_null_group_key(spark):
    # a NULL group (by_expr evaluating null) must form its own group
    # through the null-safe offset/total joins, not vanish
    from satellitetools_spark.operators.cumsum import \
        grouped_prefix_sums
    df = spark.createDataFrame(
        [(None, 1.0, 2.0), (None, 2.0, 3.0),
         ("a", 1.0, 1.0), ("a", 5.0, 4.0)],
        "grp string, v double, nv double")
    out = {(r["grp"], r["v"]): (r["cum_nv"], r["tot_nv"])
           for r in grouped_prefix_sums(
               df, ["grp"], [F.col("v").asc()], ["nv"],
               num_partitions=3).collect()}
    assert out == {(None, 1.0): (2.0, 5.0), (None, 2.0): (5.0, 5.0),
                   ("a", 1.0): (1.0, 5.0), ("a", 5.0): (5.0, 5.0)}


def test_prefix_sums_lead_crosses_partitions(spark):
    df = spark.range(50).select(
        (F.col("id") * 2.0).alias("v"), F.lit(1.0).alias("t"))
    got = prefix_sums(df, [F.col("v").asc()], ["t"],
                      num_partitions=7, lead_of="v")
    rows = sorted(got.collect(), key=lambda r: r["v"])
    for i, r in enumerate(rows[:-1]):
        assert r["lead_v"] == rows[i + 1]["v"]
    assert rows[-1]["lead_v"] is None


def test_rfm_ntile_formula_matches_sql_ntile_with_remainder(
        spark, monkeypatch):
    # 7 customers into 3 tiles: SQL NTILE gives buckets of 3, 2, 2 —
    # the remainder path of the index-formula replacement
    import datetime as dt
    rows = [(c, dt.date(2024, 1, 1 + c), 100.0 + c)
            for c in range(1, 8)]
    orders = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate date, o_totalprice double")
    from satellitetools_spark.operators import segment
    from satellitetools_spark.operators.segment import rfm_segments
    got = {r["c_custkey"]: r["r_score"]
           for r in rfm_segments(orders, n_tiles=3).collect()}
    # recency asc = most recent first: custkey 7 is most recent
    # (recency 0) -> tile 1; SQL NTILE(3) over 7 rows = 3,2,2 sizes
    want_order = [7, 6, 5, 4, 3, 2, 1]
    want = {}
    sizes = [3, 2, 2]
    i = 0
    for t, s in enumerate(sizes, start=1):
        for _ in range(s):
            want[want_order[i]] = t
            i += 1
    assert got == want
    # the two-level (big-table) path must produce IDENTICAL scores —
    # force it with threshold 0 and compare all three dimensions
    small = {r["c_custkey"]: (r["r_score"], r["f_score"], r["m_score"])
             for r in rfm_segments(orders, n_tiles=3).collect()}
    monkeypatch.setattr(segment, "SMALL_TABLE_THRESHOLD", 0)
    big = {r["c_custkey"]: (r["r_score"], r["f_score"], r["m_score"])
           for r in rfm_segments(orders, n_tiles=3).collect()}
    assert big == small


def test_kendall_guard_rejects_unbounded_alphabet(spark):
    from satellitetools_spark.operators.modeleval import kendall_tau_b
    df = spark.range(2000).select(
        (F.col("id") + F.rand(7)).alias("x"),
        (F.col("id") * 2 + F.rand(11)).alias("y"))
    with pytest.raises(ValueError, match="cells"):
        kendall_tau_b(df, "x", "y", max_cells=100).collect()
    # binned inputs pass the guard and agree with a tiny hand case
    small = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (1, 2)], ["x", "y"])
    r = kendall_tau_b(small, "x", "y").collect()[0]
    assert r["n"] == 4 and r["concordant"] > r["discordant"]


def test_grouped_prefix_sums_many_groups_fallback_matches(
        spark, monkeypatch):
    # with MANY groups the partials collect is the constraint —
    # grouped_prefix_sums must stop at MAX_PARTIALS_ROWS partials and
    # switch to the ordinary per-group window. Outputs must be
    # identical on both paths.
    from satellitetools_spark.operators import cumsum
    from satellitetools_spark.operators.cumsum import \
        grouped_prefix_sums
    df = spark.range(2000).select(
        (F.col("id") % 400).cast("string").alias("grp"),
        (F.col("id") * 13 % 97).cast("double").alias("v"),
        F.lit(1.0).alias("nv"),
        F.col("id"))

    def run():
        out = grouped_prefix_sums(
            df, ["grp"], [F.col("v").asc(), F.col("id").asc()],
            ["nv"], num_partitions=5, with_index=True)
        assert [c for c in out.columns] == \
            ["grp", "v", "nv", "id", "cum_nv", "_idx", "tot_nv"] or \
            set(out.columns) == {"grp", "v", "nv", "id", "cum_nv",
                                 "_idx", "tot_nv"}
        return ({(r["grp"], r["v"], r["id"]):
                 (r["cum_nv"], r["_idx"], r["tot_nv"])
                 for r in out.collect()}, out)

    two_level, _ = run()
    # >= 400 (partition, group) partials > 10 -> window path
    monkeypatch.setattr(cumsum, "MAX_PARTIALS_ROWS", 10)
    fallback, fb_df = run()
    assert fallback == two_level
    # the fallback plan's windows are partitioned by the GROUP column,
    # not the stamped _pspid (proof the window path actually engaged;
    # _pspid itself still rides in the checkpoint scan schema)
    plan = fb_df._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines()
                 if "windowspecdefinition" in ln]
    assert win_lines and all("_pspid" not in ln for ln in win_lines)


def test_grouped_prefix_sums_rejects_decimal(spark):
    from satellitetools_spark.operators.cumsum import \
        grouped_prefix_sums
    df = spark.createDataFrame(
        [("a", 1.0, "2.50")], "grp string, v double, m string"
    ).select("grp", "v", F.col("m").cast("decimal(10,2)").alias("m"))
    with pytest.raises(TypeError, match="decimal"):
        grouped_prefix_sums(df, ["grp"], [F.col("v").asc()], ["m"])


def test_prefix_sums_long_and_allnull_decimal(spark):
    # LONG sum columns accumulate float offsets, and DECIMAL columns
    # whose partials are ALL NULL still accumulate as Decimal
    # (schema-driven decimal detection, not value sniffing)
    df = spark.range(200).select(
        (F.col("id") % 61).cast("double").alias("v"),
        F.lit(1).cast("long").alias("t"),
        F.lit(None).cast("decimal(10,2)").alias("d"))
    h = df.groupBy("v").agg(F.sum("t").alias("t"),
                            F.sum("d").alias("d"))
    out, tot = prefix_sums(h, [F.col("v").asc()], ["t", "d"],
                           num_partitions=5, return_totals=True)
    rows = sorted(out.collect(), key=lambda r: r["v"])
    # long sums: running total of per-value counts
    acc = 0.0
    for r in rows:
        acc += float(r["t"])
        assert r["cum_t"] == acc
        assert r["cum_d"] is None  # all-null decimal stays null
    assert tot["t"] == 200.0
    import decimal
    assert tot["d"] == decimal.Decimal(0)


def test_prefix_sums_literal_offsets_at_many_partitions(spark):
    # at hundreds of partitions the offsets stay element_at over a
    # literal array, which Catalyst folds into one constant: no join,
    # no per-partition array(...) expression; values, _idx, lead and
    # the Decimal total are exact
    import decimal

    df = spark.range(300).select(
        (F.col("id") * 7 % 113).cast("double").alias("v"),
        F.lit(1.0).alias("t"),
        (F.col("id") % 5).cast("decimal(10,2)").alias("d"))
    h = (df.groupBy("v")
         .agg(F.sum("t").alias("t"), F.sum("d").alias("d")))
    out, tot = prefix_sums(
        h, [F.col("v").asc()], ["t", "d"], num_partitions=256,
        return_totals=True, lead_of="v", with_index=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert "array(" not in plan
    w = Window.orderBy("v")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    want = {r["v"]: (r["et"], r["ed"], r["ei"], r["el"]) for r in
            h.select("v", F.sum("t").over(wc).alias("et"),
                     F.sum("d").over(wc).alias("ed"),
                     F.row_number().over(w).alias("ei"),
                     F.lead("v").over(w).alias("el")).collect()}
    got = {r["v"]: (r["cum_t"], r["cum_d"], r["_idx"], r["lead_v"])
           for r in out.collect()}
    assert got == want
    assert tot["t"] == 300.0 and tot["_count"] == len(want)
    assert isinstance(tot["d"], decimal.Decimal)
    assert tot["d"] == sum(decimal.Decimal(i % 5) for i in range(300))


def test_prefix_sums_index_only_is_a_projection(spark):
    # with no sum or lead column the global index needs neither a
    # window nor an exchange over the pinned range partition
    df = spark.range(1000).select(
        (F.col("id") * 37 % 1009).alias("v"), F.col("id"))
    out = prefix_sums(df, [F.col("v").asc(), F.col("id").asc()], [],
                      num_partitions=6, with_index=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan
    got = sorted((r["_idx"], r["v"], r["id"]) for r in out.collect())
    want = sorted((r["v"], r["id"]) for r in df.collect())
    assert [(i, v, k) for i, (v, k) in enumerate(want, start=1)] == got


def test_prefix_sums_index_rejects_overflowing_partition(spark,
                                                         monkeypatch):
    # a partition whose local row count reaches the id's low bits
    # would corrupt the index: fail instead (bits shrunk to 3 here)
    from satellitetools_spark.operators import cumsum
    monkeypatch.setattr(cumsum, "_MID_LOCAL_BITS", 3)
    df = spark.range(20).select(F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="raise num_partitions"):
        prefix_sums(df, [F.col("v").asc()], [], num_partitions=1,
                    with_index=True)
