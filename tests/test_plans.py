"""Plan-shape regression tests: pin the PHYSICAL plans the operators
were designed around, so a refactor that silently degrades a broadcast
into a sort-merge join, or a heap top-k into a global sort, fails CI —
the 100 TB properties are asserted, not just documented (complements
PLANS.md's audits).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _points_stations(spark):
    pts = [(f"p{i}", float(i % 50) * 40.0, float(i // 50) * 40.0)
           for i in range(200)]
    sts = [(j, j * 300.0, j * 180.0) for j in range(10)]
    return (spark.createDataFrame(pts, ["doc_id", "x", "y"]),
            spark.createDataFrame(sts, ["station_id", "sx", "sy"]))


def test_distance_join_broadcasts_and_never_sorts(spark):
    from satellitetools_spark.operators.spatial import distance_join
    px, st = _points_stations(spark)
    plan = _plan(distance_join(px, st, radius=400.0))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_top_k_is_heap_not_global_sort(spark):
    from satellitetools_spark.operators.sketch import kmv_distinct
    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha{i} beta{i}") for i in range(50)],
        ["doc_id", "text"])
    plan = _plan(kmv_distinct(docs, k=16))
    assert "TakeOrderedAndProject" in plan
    # the only Sort allowed is inside TakeOrderedAndProject's heap —
    # no standalone global Sort node
    assert "\n+- Sort " not in plan and "GlobalLimit" not in plan


def test_pivot_is_single_aggregate_no_extra_job(spark):
    from satellitetools_spark.operators.checks import pivot_counts
    df = spark.createDataFrame([("d1", 4), ("d2", 8)], ["doc_id", "SCL"])
    plan = _plan(pivot_counts(df, "SCL", values=[4, 8, 9]))
    # pinned values -> plain HashAggregate pipeline, no Expand explosion
    # beyond the pivot agg and no join/sort
    assert plan.count("HashAggregate") <= 4
    assert "Join" not in plan and "Sort" not in plan


def test_line_dedup_never_cartesian(spark):
    from satellitetools_spark.operators.text import line_dedup
    lines = spark.createDataFrame(
        [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 1, "a")],
        ["doc_id", "pos", "line"])
    plan = _plan(line_dedup(lines))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_pairs_equi_join_only(spark):
    from satellitetools_spark.operators.text import fuzzy_token_pairs
    docs = spark.createDataFrame(
        [("d1", "spark spork data date")], ["doc_id", "text"])
    plan = _plan(fuzzy_token_pairs(docs, max_dist=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_flagship_pixels_plan_contract(spark, geodata_small):
    """The decode path's contract: the QI survivor filter joins as a
    BROADCAST semi-join (never sort-merge), and the only shuffle
    exchanges are the explicit decode repartition + the QI branch's
    aoi repartition — no hidden aggregate-side shuffle before decode."""
    from satellitetools_spark.plans.pipeline import get_s2_qi_and_data
    from satellitetools_spark.sources import read_documents
    docs = read_documents(spark, os.path.join(geodata_small,
                                              "docs.parquet"))
    qi, data = get_s2_qi_and_data(docs)
    plan = _plan(data)
    shuffles = sum(1 for line in plan.splitlines()
                   if "Exchange" in line
                   and "BroadcastExchange" not in line)
    assert shuffles <= 2, plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_sales_topk_plan_broadcast_and_heap(spark):
    import __spark_entry__ as E
    df = E.queries()["sales_topk"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_fk_violations_anti_joins_broadcast(spark):
    import __spark_entry__ as E
    df = E.queries()["fk_violations"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_funnel_is_single_pass(spark):
    """r3 funnel contract: the whole funnel reads the event stream ONCE
    (one Scan node) — the r2 formulation re-scanned the stream per step
    readout (O(steps²) scans)."""
    import datetime as dt
    from satellitetools_spark.operators.temporal import funnel
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [("u1", "view", t0), ("u1", "click", t0 + dt.timedelta(minutes=1)),
         ("u1", "purchase", t0 + dt.timedelta(minutes=2))],
        ["user_id", "event_type", "ts"])
    ev.write.mode("overwrite").parquet("/tmp/_plan_funnel_ev.parquet")
    src = spark.read.parquet("/tmp/_plan_funnel_ev.parquet")
    plan = _plan(funnel(src, steps=["view", "click", "purchase"]))
    assert plan.count("FileScan") == 1, plan
    assert "CartesianProduct" not in plan


def test_binned_quantiles_single_scan(spark):
    """r3 quantile contract: one histogram scan feeds every quantile
    readout (probs are a broadcast dimension + min_by) — the r2 per-prob
    filter+limit branches each re-executed the full input scan."""
    from satellitetools_spark.operators.checks import binned_quantiles
    df = spark.range(1000).select(F.col("id").cast("double").alias("v"))
    df.write.mode("overwrite").parquet("/tmp/_plan_bq.parquet")
    src = spark.read.parquet("/tmp/_plan_bq.parquet")
    plan = _plan(binned_quantiles(src, "v", 0.0, 1000.0, n_bins=50,
                                  probs=(0.25, 0.5, 0.75, 0.9, 0.99)))
    # exactly one scan of the input file among all FileScans (the probs
    # dimension is a LocalTableScan, not a file)
    assert plan.count("FileScan") == 1, plan


def test_transition_counts_one_key_shuffle(spark):
    """Transition matrix: one window shuffle on the key, one type²
    agg — no joins, no cartesian."""
    import datetime as dt
    from satellitetools_spark.operators.temporal import transition_counts
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [("u1", "a", t0), ("u1", "b", t0 + dt.timedelta(seconds=5))],
        ["user_id", "event_type", "ts"])
    plan = _plan(transition_counts(ev))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_hillshade_no_self_join(spark):
    """Hillshade rides focal_conv's contribute/aggregate shape: the DEM
    scans once, no join back (center payload folds through the agg)."""
    from satellitetools_spark.operators.spatial import hillshade
    dem = spark.createDataFrame(
        [(int(iy) * 2 ** 32 + int(ix), 100.0 + ix + iy)
         for iy in range(4) for ix in range(4)],
        "cell long, elevation double")
    plan = _plan(hillshade(dem, cell_m=10.0))
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") <= 2, plan


def test_mann_kendall_equi_join_only(spark):
    """MK pair enumeration must stay a key-equi join (quadratic only in
    per-key series length) — never a cartesian or nested loop over the
    table."""
    from satellitetools_spark.operators.temporal import mann_kendall
    df = spark.createDataFrame(
        [("a", f"2024-01-{d:02d}", 0.1 * d) for d in range(1, 8)],
        "aoi string, date_str string, v double")
    plan = _plan(mann_kendall(df, value_col="v"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_variogram_single_grid_join(spark):
    """Variogram: offset explode + ONE grid equi-join + lag agg — no
    window, no cartesian, nothing quadratic in cells."""
    from satellitetools_spark.operators.spatial import variogram
    dem = spark.createDataFrame(
        [(int(iy) * 2 ** 32 + int(ix), float(ix + iy))
         for iy in range(4) for ix in range(4)],
        "cell long, elevation double")
    plan = _plan(variogram(dem))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 3, plan


def test_gstar_one_stencil_pass(spark):
    """Gi*: the stencil must be focal_conv's explode/agg (no self-join
    of the grid); the moments join is a 1-row broadcast."""
    from satellitetools_spark.operators.spatial import (dem_pixels,
                                                        getis_ord_gstar)
    dem = spark.createDataFrame(
        [(int(iy) * 2 ** 32 + int(ix), float(ix * iy))
         for iy in range(4) for ix in range(4)],
        "cell long, elevation double")
    plan = _plan(getis_ord_gstar(dem_pixels(dem)))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") <= 4, plan


def test_chunk_documents_map_only(spark):
    """Chunking is a map-only operator: zero exchanges, zero joins,
    zero Python."""
    from satellitetools_spark.operators.text import chunk_documents
    df = spark.createDataFrame(
        [("d", " ".join(f"w{i}" for i in range(100)))],
        "doc_id string, text string")
    plan = _plan(chunk_documents(df))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_pettitt_equi_join_and_single_window(spark):
    """Pettitt: the telescoped form is a key-equi pair join + ONE key
    window for the prefix sum — never a cartesian, never a per-candidate
    re-aggregation."""
    from satellitetools_spark.operators.temporal import pettitt
    df = (spark.createDataFrame(
        [(1, f"2024-01-{d:02d} 00:00:00", 0.3 * d) for d in range(1, 9)],
        "user_id long, ts string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    plan = _plan(pettitt(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # the prefix-sum table is checkpoint-fenced, so the pair join and
    # window appear AT MOST once (zero when the fence hides the subtree)
    assert plan.count("Window") <= 1, plan


def test_ripley_k_bucket_equi_join_only(spark):
    """Ripley's K: constant 9x bucket fan-out + ONE equi-join — the
    all-radii readout must not multiply joins or go cartesian."""
    from satellitetools_spark.operators.spatial import ripley_k
    df = spark.createDataFrame(
        [("d", float(i % 10) * 25.0, float(i // 10) * 25.0)
         for i in range(50)],
        "doc_id string, x double, y double")
    plan = _plan(ripley_k(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # pair join + stats join-back — nothing else
    assert plan.count("Join") <= 2, plan


def test_kde_grid_equi_join_only(spark):
    """KDE: cells meet points in ONE (key, bucket) equi-join; the
    normalization join-back must broadcast the key-cardinality counts."""
    from satellitetools_spark.operators.spatial import kde_grid
    df = spark.createDataFrame(
        [("d", float(i % 10) * 25.0, float(i // 10) * 25.0)
         for i in range(50)],
        "doc_id string, x double, y double")
    plan = _plan(kde_grid(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan  # npts join-back


def test_basket_pairs_equi_join_only(spark):
    """Basket self-join must ride the order-key equi-join (bounded
    fan-out), with the marginals broadcast — never a cartesian."""
    from satellitetools_spark.operators.segment import basket_pairs
    li = spark.createDataFrame(
        [(i // 3, i % 7) for i in range(60)],
        "l_orderkey long, l_partkey long")
    plan = _plan(basket_pairs(li, min_support=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan      # pair join + marginals
    # the only nested-loop is the 1-row n_orders scalar broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_change_detection_single_shuffle(spark):
    """First/last extremes must ride ONE hash agg (struct min/max) —
    no window sort, no join, no second scan of the pixel frame."""
    import datetime as dt
    from satellitetools_spark.operators.spatial import change_detection
    px = spark.createDataFrame(
        [("a", 5.0, 5.0, 10.0, dt.datetime(2024, 1, 1 + i % 5), 0.1 * i)
         for i in range(40)],
        "aoi string, x double, y double, gsd double, t timestamp,"
        " v double")
    plan = _plan(change_detection(px))
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 1, plan


def test_rfm_windows_after_customer_agg(spark, monkeypatch):
    """The three NTILE windows must sort the AGGREGATED customer table,
    not the order fact rows: exactly one pre-window aggregate keyed on
    the customer."""
    import datetime as dt
    from satellitetools_spark.operators import segment
    from satellitetools_spark.operators.segment import rfm_segments
    orders = spark.createDataFrame(
        [(i, i % 7, 100.0 + i, dt.datetime(2024, 1, 1 + i % 20))
         for i in range(100)],
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate timestamp")
    # r4 adaptive: a small aggregated customer table takes the classic
    # NTILE windows (bounded by the threshold — provably one-task safe)
    plan = _plan(rfm_segments(orders))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan
    # the big-table path (forced via threshold 0) runs every NTILE as
    # the index-only two-level scan: the plan is a projection over the
    # last checkpoint-pinned range partition, with no window and no
    # exchange left at all
    monkeypatch.setattr(segment, "SMALL_TABLE_THRESHOLD", 0)
    plan_big = _plan(rfm_segments(orders))
    assert "Window" not in plan_big, plan_big
    assert "Exchange" not in plan_big, plan_big


def test_kaplan_meier_no_row_cardinality_window(spark):
    """KM windows run over the DURATION table (post-agg), never the
    raw events: plan has aggregates below the windows and no join."""
    import datetime as dt
    from satellitetools_spark.operators.temporal import kaplan_meier
    ev = spark.createDataFrame(
        [(f"u{i % 9}", dt.datetime(2024, 1, 1 + i % 25))
         for i in range(100)],
        "user_id string, ts timestamp")
    plan = _plan(kaplan_meier(ev))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_raster_xcorr_equi_join_only(spark):
    """The offset lattice must meet raster B through ONE co-partitioned
    cell equi-join; the argmax window runs at key × offset cardinality
    (tiny) — never a cartesian anywhere."""
    from satellitetools_spark.operators.spatial import raster_xcorr
    mk = lambda: spark.createDataFrame(
        [("a", i % 8, i // 8, float(i)) for i in range(64)],
        "aoi string, ix long, iy long, v double")
    plan = _plan(raster_xcorr(mk(), mk(), max_offset=1, min_overlap=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_hits_joins_stay_equi(spark):
    """Every HITS half-step is an edge⋈vector equi-join + keyed sum —
    the normalizing totals are 1-row broadcasts (nested-loop allowed
    only for those scalars)."""
    from satellitetools_spark.operators.graph import hits
    edges = spark.createDataFrame(
        [(i % 5, 100 + i % 7) for i in range(30)], "src long, dst long")
    plan = _plan(hits(edges, iters=2))
    assert "CartesianProduct" not in plan


def test_roc_auc_single_fact_agg_no_raw_sort(spark):
    # the only Sort allowed is the window over the distinct-score
    # histogram (post-aggregation); the fact stream is reduced by one
    # partial+final HashAggregate pair before any Exchange
    from satellitetools_spark.operators.modeleval import roc_auc
    df = spark.createDataFrame(
        [(i % 2, (i % 37) / 37.0) for i in range(500)], ["y", "s"])
    plan = _plan(roc_auc(df, "y", "s"))
    assert "Join" not in plan
    # facts hit a partial HashAggregate before the only Exchange
    # (map-side combine -> alphabet-sized shuffle)
    assert plan.count("HashAggregate") >= 2


def test_poisson_bootstrap_single_shuffle_to_b_rows(spark):
    from satellitetools_spark.operators.modeleval import (
        poisson_bootstrap_mean)
    df = spark.createDataFrame(
        [(i, float(i % 13)) for i in range(300)], ["id", "v"])
    plan = _plan(poisson_bootstrap_mean(df, "v", "id", n_boot=8))
    # explode(B) must NOT become a join; the per-replicate partials
    # combine map-side (partial HashAggregate below the Exchange)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Generate explode" in plan or "Generate" in plan
    assert plan.count("HashAggregate") >= 2


def test_kendall_cell_join_is_cell_sized_nljoin_not_fact_join(spark):
    # tau-b's C/D pair count self-joins the CELL table (theta x1<x2):
    # a nested-loop over alphabet-sized sides is the DESIGNED shape;
    # what must never happen is the join running over raw facts —
    # both join inputs must sit above a HashAggregate.
    from satellitetools_spark.operators.modeleval import kendall_tau_b
    df = spark.createDataFrame(
        [(i % 6, (i * 7) % 5) for i in range(400)], ["x", "y"])
    plan = _plan(kendall_tau_b(df, "x", "y"))
    # crude but effective: both theta-join inputs sit above partial+
    # final HashAggregate pairs (>= 4 in total), and the facts are
    # never sort-merge-joined
    assert plan.count("HashAggregate") >= 4
    assert "SortMergeJoin" not in plan


def test_conformal_qhat_is_broadcast_not_shuffle_join(spark):
    from satellitetools_spark.operators.modeleval import conformal_interval
    df = spark.createDataFrame(
        [(i, float(i % 17), float(i % 17) + (i % 3) * 0.1)
         for i in range(400)], ["id", "pred", "act"])
    plan = _plan(conformal_interval(df, "pred", "act", "id % 5 = 0"))
    # the 1-row qhat joins back by broadcast, never a shuffle join
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_heavy_hitters_verify_pass_broadcasts_candidates(spark):
    from satellitetools_spark.operators.sketch import heavy_hitters
    docs = spark.createDataFrame(
        [(i, "hot cold " + f"w{i}") for i in range(40)],
        ["doc_id", "text"])
    out = heavy_hitters(docs, phi=0.2)
    plan = _plan(out)
    # r4: the verify scan (broadcast-joined candidates, F.broadcast
    # hint by construction) is pinned behind a localCheckpoint so the
    # token total comes back as one driver scalar; the VISIBLE plan
    # starts at the checkpoint — assert the pin exists and nothing
    # above it shuffles or sort-merges
    assert "ExistingRDD" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # and the results are still exact
    got = {r["token"]: r["cnt"] for r in out.collect()}
    assert got == {"hot": 40, "cold": 40}


def test_domain_grid_check_is_single_broadcast_probe(spark):
    from satellitetools_spark.biophys.nn import (SNAP_BIO_BANDS,
                                                 domain_grid_check)
    rows = [[i] + [0.1] * 8 for i in range(50)]
    df = spark.createDataFrame(rows, ["pid"] + SNAP_BIO_BANDS)
    plan = _plan(domain_grid_check(df))
    # the 11k-cell grid is the broadcast side; the pixel frame is never
    # exchanged for the join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_allpairs_jaccard_equi_joins_only(spark):
    # the whole point of prefix filtering is candidate generation via
    # EQUI-joins on shingle/doc keys — any nested-loop/cartesian means
    # the theta predicate leaked into the join itself
    from satellitetools_spark.operators.dedup import allpairs_jaccard_pairs
    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma delta w{i} x{i} y{i} z{i}")
         for i in range(12)], ["doc_id", "text"])
    plan = _plan(allpairs_jaccard_pairs(docs, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_naive_bayes_no_cartesian_and_single_argmax_window(spark):
    # model/prior/floor tables ride in on equi or broadcast joins; the
    # only window is the per-doc argmax over |labels| rows
    from satellitetools_spark.operators.text import naive_bayes_predict
    docs = spark.createDataFrame(
        [(f"d{i}", "en" if i % 2 else "fi",
          f"alpha beta w{i} x{i}") for i in range(12)],
        ["doc_id", "lang", "text"])
    plan = _plan(naive_bayes_predict(docs))
    assert "CartesianProduct" not in plan
    # exactly one Window node ("Window [" excludes the WindowGroupLimit
    # rank-pushdown nodes, which are the optimization we WANT)
    assert plan.count("Window [") == 1
    assert "WindowGroupLimit" in plan


def test_adamic_adar_wedge_is_equi_join(spark):
    from satellitetools_spark.operators.graph import adamic_adar
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["doc_a", "doc_b"])
    plan = _plan(adamic_adar(pairs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_smd_balance_single_aggregate(spark):
    # every covariate's per-arm moments come from ONE pass: exactly one
    # HashAggregate pair (partial+final), no join, no shuffle beyond it
    from satellitetools_spark.operators.inference import smd_balance
    df = spark.createDataFrame(
        [(i % 2, float(i), float(i * i)) for i in range(50)],
        ["t", "x", "z"])
    plan = _plan(smd_balance(df, "t = 1", ["x", "z"]))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1


def test_scd2_single_exchange(spark):
    # lag-mark and lead-close must share ONE (key, ts) sort: exactly
    # one Exchange and at most two Sort nodes (partial+final of the
    # same ordering) in the plan
    from satellitetools_spark.operators.temporal import scd2_build
    import datetime as dt
    df = spark.createDataFrame(
        [("u", dt.datetime(2026, 1, 1 + i), "s" + str(i % 2))
         for i in range(6)],
        "user_id string, ts timestamp, state string")
    plan = _plan(scd2_build(df, "user_id", "ts", ["state"]))
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan


def test_trimmed_stats_histogram_then_window_only(spark):
    # raw rows feed ONE hash aggregate; the cumulative pass runs as the
    # grouped two-level scan over the distinct-value histogram — the
    # only joins are the BROADCAST offset/total rejoins (tiny,
    # driver-built), never a sort-merge or cartesian of values
    from satellitetools_spark.operators.inference import trimmed_stats
    df = spark.createDataFrame([(float(i % 37),) for i in range(500)],
                               "v double")
    plan = _plan(trimmed_stats(df, "v"))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every window is partitioned (by the range-partition id + group)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pspid" in line, f"unpartitioned window: {line}"


def test_qini_single_conditional_aggregate(spark):
    from satellitetools_spark.operators.modeleval import qini_curve
    df = spark.createDataFrame(
        [(i % 2, i % 3 == 0, float(i % 10) / 10.0) for i in range(100)],
        "t int, y boolean, s double")
    plan = _plan(qini_curve(df, "t = 1", "y", "s"))
    assert "Join" not in plan
    # one agg over raw rows + windows over the 10-bin table
    assert plan.count("HashAggregate") <= 2


def test_covisitation_no_cartesian(spark):
    from satellitetools_spark.operators.segment import covisitation
    df = spark.createDataFrame(
        [(i % 7, f"it{i % 4}") for i in range(50)],
        "user_id int, event_type string")
    plan = _plan(covisitation(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_haversine_join_is_banded_equi_join(spark):
    from satellitetools_spark.operators.spatial import haversine_join
    p = spark.createDataFrame([(1, 10.0, 20.0)],
                              "event_id int, lon double, lat double")
    s = spark.createDataFrame(
        [(1, 10.5, 20.5)], "station_id int, slon double, slat double")
    plan = _plan(haversine_join(p, s, radius_km=200.0))
    assert "BroadcastHashJoin" in plan       # latband equi-join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_train_data_pipeline_scores_each_doc_once(spark, tmp_path):
    """The keep test must not be pushed below the scoring projection: a
    pushed Filter substitutes every score alias into its condition, so
    the executed plan would evaluate the heavy text expressions twice.
    Eight input files on local[8] make spread_scan a no-op, as in the
    benchmark and in production."""
    from satellitetools_spark.plans.corpus import train_data_pipeline
    rows = [(f"d{i}", f"the cat and the dog of a house number {i % 5}")
            for i in range(64)]
    path = str(tmp_path / "docs")
    (spark.createDataFrame(rows, ["doc_id", "text"])
     .repartition(8).write.parquet(path))
    docs = spark.read.parquet(path)
    assert len(docs.inputFiles()) >= 8
    out = train_data_pipeline(docs)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    plan = _plan(out)
    for expr in ("regexp_extract_all", "split("):
        assert plan.count(expr) <= analyzed.count(expr), expr
