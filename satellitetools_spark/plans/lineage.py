"""Per-partition lineage + metrics and exact resume (Axis B).

Design: a materializing run appends the pixel output to parquet under a
``run_id=<id>`` partition, then derives a lineage table *from the committed
output* — one row per document with its row count and the output file that
holds it (``input_file_name``, i.e. the physical partition attribution).
Deriving lineage from what actually landed (rather than from in-flight task
counters) makes resume exact even across task retries and speculative
execution: a document is "done" iff its rows are readable in the output.

The current run's output is located by PARTITION PRUNING on the stamped
``run_id`` column — no filesystem directory diffing anywhere, so the same
code runs against HDFS/S3/Iceberg where listing-and-comparing a bucket
prefix is either unreliable (eventual consistency) or a full-prefix
enumeration. ``run_id`` partitioning is also the natural Iceberg layout:
one snapshot per run, pruned scans per run.

Resume = anti-join the input's doc_ids against the union of completed
doc_ids across prior runs — exactly-once at document granularity,
idempotent with append-mode parquet (the Iceberg snapshot/MERGE analog in
this environment). The lineage scan is a metadata-light aggregate over the
current run's partition only.
"""

from __future__ import annotations

import time
import uuid
from typing import Callable, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def write_with_lineage(pixels: DataFrame, out_dir: str, lineage_dir: str,
                       attempted: DataFrame) -> str:
    """Append ``pixels`` to parquet (partitioned by ``run_id``) and record
    per-document lineage.

    Lineage columns: run_id, doc_id, n_rows, file (physical attribution),
    finished_at. Returns the run_id, a fresh 12-hex-digit id.

    ``attempted`` (a ``doc_id`` DataFrame) is the set of documents this run
    covered; each gets exactly one lineage row per output file, and docs
    that legitimately emit zero rows (e.g. every scene failed the QI
    filter — a deterministic outcome) get one row with ``file`` NULL and
    ``n_rows = 0``, otherwise resume would re-decode them on every run.
    Lineage is appended only after the output write action commits, so a
    mid-run crash leaves no lineage and the whole run is redone — safe,
    because the parquet job committer publishes files atomically at job
    commit (no partial output is visible to readers).
    """
    run_id = uuid.uuid4().hex[:12]
    spark = pixels.sparkSession

    (pixels.withColumn("run_id", F.lit(run_id))
     .write.mode("append").partitionBy("run_id").parquet(out_dir))

    # locate this run's rows by partition pruning, not directory diffing
    written = spark.read.parquet(out_dir).filter(F.col("run_id") == run_id)
    per_doc = (
        written.groupBy("doc_id", F.input_file_name().alias("file"))
        .agg(F.count("*").alias("n_rows"))
    )
    per_doc = (
        attempted.select("doc_id").distinct()
        .join(per_doc, "doc_id", "left_outer")
        .select("doc_id", "file",
                F.coalesce("n_rows", F.lit(0)).alias("n_rows"))
    )
    lin = per_doc.select(
        F.lit(run_id).alias("run_id"),
        "doc_id", "n_rows", "file",
        F.lit(time.time()).alias("finished_at"),
    )
    lin.write.mode("append").parquet(lineage_dir)
    return run_id


def completed_doc_ids(spark: SparkSession, lineage_dir: str) -> DataFrame:
    try:
        return spark.read.parquet(lineage_dir).select("doc_id").distinct()
    except AnalysisException:
        # no lineage written yet (first run) — empty completed set
        return spark.createDataFrame([], "doc_id string")


def resume_filter(docs: DataFrame, lineage_dir: str) -> DataFrame:
    """Exact resume: drop documents already completed in prior runs."""
    done = completed_doc_ids(docs.sparkSession, lineage_dir)
    return docs.join(done, "doc_id", "left_anti")


def run_resumable(docs: DataFrame,
                  build_pixels: Callable[[DataFrame], DataFrame],
                  out_dir: str, lineage_dir: str) -> Tuple[str, int]:
    """Resumable materialization: filter completed docs, build, write with
    lineage. ``build_pixels(docs) -> DataFrame`` is the pipeline body.
    Returns (run_id, n_docs_processed_this_run)."""
    todo = resume_filter(docs, lineage_dir)
    n = todo.count()
    if n == 0:
        return ("noop", 0)
    pixels = build_pixels(todo)
    rid = write_with_lineage(pixels, out_dir, lineage_dir, attempted=todo)
    return (rid, n)
