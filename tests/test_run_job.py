"""The production entrypoint (scripts/run_job.py): its pipeline body is one
fused decode pass (bands + NDVI + SNAP nets) materialized resumably."""

import argparse
import importlib.util
import os

from satellitetools_spark.constants import S2_BANDS_10_20
from satellitetools_spark.plans.lineage import run_resumable
from satellitetools_spark.sources import read_documents

RUN_JOB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "scripts", "run_job.py")


def _run_job_module():
    spec = importlib.util.spec_from_file_location("run_job", RUN_JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run(spark, geodata_small, tmp_path, snap_vars):
    build = _run_job_module().build_pipeline(
        argparse.Namespace(qi_threshold=0.02, snap_vars=snap_vars))
    docs = read_documents(spark, os.path.join(geodata_small, "docs.parquet"))
    out, lin = str(tmp_path / "out"), str(tmp_path / "out_lineage")
    first = run_resumable(docs, build, out, lin)
    second = run_resumable(docs, build, out, lin)
    return first, second, spark.read.parquet(out)


def test_run_job_fused_build_writes_bands_ndvi_lai_and_resumes(
        spark, geodata_small, tmp_path):
    (rid, n), second, px = _run(spark, geodata_small, tmp_path, "LAI")
    assert rid != "noop" and n > 0
    assert second == ("noop", 0)
    for c in S2_BANDS_10_20 + ["SCL", "ndvi", "lai"]:
        assert c in px.columns, c
    counts = px.selectExpr("count(*) AS n", "count(ndvi) AS ndvi",
                           "count(lai) AS lai").first()
    assert counts["n"] > 0 and counts["ndvi"] > 0 and counts["lai"] > 0


def test_run_job_empty_snap_vars_skips_the_nets(spark, geodata_small, tmp_path):
    _first, second, px = _run(spark, geodata_small, tmp_path, "")
    assert "ndvi" in px.columns and "lai" not in px.columns
    assert second == ("noop", 0)
