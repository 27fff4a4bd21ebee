#!/usr/bin/env python
"""Production entrypoint — launch via ``spark-submit --py-files`` (north rule).

Example (``local[N]`` is the sandbox proxy for N executors)::

    scripts/submit.sh 4 --input .geodata/sf0.01/docs.parquet --output /tmp/out

The job is the flagship pipeline (QI filter → ONE Python pass of decode +
spatial join fused with NDVI and the SNAP biophysical nets → per-pixel
output) materialized **resumably**: per-document lineage + row-count
metrics are committed next to the output, and a rerun processes only
documents absent from the lineage table (exact resume, idempotent append —
plans/lineage.py). On a real cluster the same script runs unchanged
under ``spark-submit --master yarn/k8s --py-files satellitetools_spark.zip``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession

from satellitetools_spark.plans import get_s2_qi_and_data
from satellitetools_spark.plans.lineage import run_resumable
from satellitetools_spark.sources import read_documents


def build_pipeline(args):
    snap_vars = args.snap_vars.split(",") if args.snap_vars else []

    def build(docs):
        _qi, px = get_s2_qi_and_data(docs, qi_threshold=args.qi_threshold,
                                     vi_vars=["ndvi"], snap_vars=snap_vars)
        return px
    return build


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="docs parquet path")
    p.add_argument("--output", required=True, help="pixel output dir")
    p.add_argument("--lineage", default=None,
                   help="lineage dir (default: <output>_lineage)")
    p.add_argument("--qi-threshold", type=float, default=0.02)
    p.add_argument("--snap-vars", default="LAI",
                   help="comma list of LAI,FAPAR,FCOVER,LAI_Cab,LAI_Cw ('' = none)")
    args = p.parse_args()
    lineage = args.lineage or args.output.rstrip("/") + "_lineage"

    spark = SparkSession.builder.getOrCreate()  # master comes from spark-submit
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = time.perf_counter()
    docs = read_documents(spark, args.input)
    run_id, n_docs = run_resumable(docs, build_pipeline(args),
                                   args.output, lineage)
    sec = time.perf_counter() - t0
    out = {"run_id": run_id, "docs_processed": n_docs,
           "sec": round(sec, 3),
           "docs_per_sec": round(n_docs / sec, 2) if sec > 0 else None,
           "cores": spark.sparkContext.defaultParallelism}
    print(json.dumps(out), flush=True)
    spark.stop()
    sys.exit(0)


if __name__ == "__main__":
    main()
