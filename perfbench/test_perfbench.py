"""Checks of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The oracle test runs the flagship path at sf0.01 and compares it, and the
benchmark's flagship digest, with the DuckDB oracle queries of
``__spark_entry__``; it generates the sf0.01 geodata under
``perfbench/.cache/geodata``.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import tracing  # noqa: E402


def test_self_time_subtracts_the_union_of_child_spans():
    tr = tracing.Tracer()
    with tr.span("job"):
        pass
    job = tr.spans[0]
    job["start"], job["end"] = 0.0, 10.0
    for s, e in ((1.0, 3.0), (2.0, 5.0), (7.0, 8.0)):
        tr.spans.append({"id": len(tr.spans), "parent": 0, "start": s, "end": e})
    assert tr.self_seconds(job) == pytest.approx(5.0)


def test_spans_nest_with_parent_and_trace_ids():
    tr = tracing.Tracer()
    with tr.span("job.a", new_trace=True):
        with tr.span("layer"):
            pass
    with tr.span("job.b", new_trace=True):
        pass
    a, layer, b = tr.spans
    assert layer["parent"] == a["id"] and layer["trace_id"] == a["trace_id"]
    assert b["parent"] is None and b["trace_id"] != a["trace_id"]


def _task(stage, run_ms, cpu_ns, launch, finish, shuffle_w=0, gc=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns, "JVM GC Time": gc,
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": 7}}}


def test_spark_counters_group_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "t1:1:layer"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        _task(0, 1000, 5e8, 0, 1000, shuffle_w=10, gc=20),
        _task(1, 2000, 1e9, 0, 100),
        _task(1, 2000, 1e9, 0, 100),
        _task(1, 2000, 1e9, 0, 400),
        _task(2, 9000, 9e9, 0, 9000),
    ]
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    c = tracing.spark_counters(str(log))
    assert list(c) == ["t1:1:layer"]
    g = c["t1:1:layer"]
    assert g["tasks"] == 4
    assert g["executor_run_s"] == pytest.approx(7.0)
    assert g["jvm_wait_s"] == pytest.approx(3.5)
    assert g["shuffle_write_bytes"] == 10 and g["shuffle_read_bytes"] == 28
    assert g["gc_share"] == pytest.approx(0.02 / 7.0)
    assert g["task_skew"] == pytest.approx(4.0)  # widest stage: 400 / 100


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.geo_documents(3), inputs.geo_documents(3 + inputs.N_VARIANTS)
    assert [d["doc_id"] for d in a] == [d["doc_id"] for d in b]
    c = inputs.geo_documents(4)
    assert len(c) == len(a)  # the same amount of work ...
    assert {d["doc_id"] for d in c} != {d["doc_id"] for d in a}  # ... on other AOIs
    assert inputs.text_base(3)["text"] == inputs.text_base(3)["text"]
    assert inputs.text_base(3)["text"] != inputs.text_base(4)["text"]


def test_benchmark_json_names_every_metric_run_py_prints():
    import run
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == run.per_layer_catalog()
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)


def test_tree_rss_counts_this_process():
    assert tracing.tree_rss_bytes(os.getpid()) > 0


@pytest.fixture(scope="module")
def sf001():
    """sf0.01 geodata generated under perfbench/.cache/geodata."""
    from satellitetools_spark import datagen
    root = datagen.GEODATA_ROOT
    datagen.GEODATA_ROOT = os.path.join(HERE, ".cache", "geodata")
    try:
        yield datagen.ensure_geodata("sf0.01")
    finally:
        datagen.GEODATA_ROOT = root


def test_flagship_and_its_digest_match_the_duckdb_oracle(sf001):
    import duckdb
    from satellitetools_spark.biophys.nn import snap_sql_expr
    from satellitetools_spark.plans import flagship_timeseries
    from satellitetools_spark.session import get_spark
    from satellitetools_spark.sources import read_documents
    import __spark_entry__ as E
    import workloads as W

    # the geo_lai_timeseries / geo_ndvi_timeseries entries of
    # E.oracle_sql(), built without its unrelated eager ground truths
    lai_sql = E._ts_stats_sql(snap_sql_expr("LAI"), "lai", snap=True, digits=5)
    ndvi_sql = E._ts_stats_sql("(B8A - B4) / (B8A + B4)", "ndvi", snap=False, digits=6)
    con = duckdb.connect()
    lai = {(r[0], r[1]): r[2:] for r in con.execute(lai_sql).fetchall()}
    ndvi = {(r[0], r[1]): r[2:] for r in con.execute(ndvi_sql).fetchall()}
    # flagship keeps a date only when both variables have pixels
    oracle = [(k[0], k[1], *ndvi[k], *lai[k]) for k in sorted(lai.keys() & ndvi.keys())]
    assert oracle

    cores = len(os.sched_getaffinity(0))
    os.environ.update({"TZ": "UTC", "SPARK_GRAFT_CPUS": str(cores),
                       "PYTHONPATH": os.pathsep.join(filter(None, [
                           ROOT, os.environ.get("PYTHONPATH")]))})
    time.tzset()
    spark = get_spark("perfbench-oracle", master=f"local[{cores}]")
    try:
        docs = read_documents(spark, os.path.join(sf001, "docs.parquet"))
        rows = W.flagship_rows(flagship_timeseries(docs, W.FLAGSHIP_VARS).collect())
    finally:
        spark.stop()

    got = sorted(rows, key=lambda r: (r[0], r[1]))
    assert [r[:2] for r in got] == [r[:2] for r in oracle]
    for g, o in zip(got, oracle):
        for v, w, (col, digits) in zip(g[2:], o[2:], W.FLAGSHIP_DIGEST_COLS):
            if w is None:
                assert v is None, (g[:2], col)
            else:
                assert v == pytest.approx(w, abs=1.5 * 10 ** -digits), (g[:2], col)
    assert W.timeseries_digest(got) == W.timeseries_digest(oracle)
