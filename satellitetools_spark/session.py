"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "satellitetools-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    # default: the cores this process may run on (taskset/cgroup affinity)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or (min(64, 2 * int(cpus)) if cpus.isdigit() else 64)
    builder = SparkSession.builder
    # caller-supplied pairs (e.g. sources.iceberg.catalog_conf) must land
    # before getOrCreate — catalog/extension configs are session-fixed
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return (
        builder.appName(app)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # AQE: runtime coalescing + skew-join splitting are the first line of
        # defense against hot-tile skew at scale
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # split sizing tuned for a decode-dominated workload: per-document
        # Python decode CPU (~2-5 ms/doc, ~1 KB/doc on disk) dwarfs file-open
        # cost, so small splits (a) give the scan enough native parallelism
        # that the decode mapInPandas fuses with it into ONE stage (no
        # round-robin exchange — the packed span strings never get
        # re-serialized through a shuffle; measured ~5 s of bandwidth-bound
        # JVM time per exchange at ~48k documents) and (b) yield several task
        # waves per core for straggler amortization. On a production cluster
        # raise maxPartitionBytes toward 32-128 MB so tasks stay 10 s+.
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "262144")
        # Arrow batches for pandas UDFs (the engine's only Python path)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
