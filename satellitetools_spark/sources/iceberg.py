"""Iceberg catalog integration for the document tables.

The north rule's production layout is "Iceberg tables of interleaved
text + media documents at 10^12-document scale". This module is the
real wiring for that layout — catalog configuration, bucketed table
creation, snapshot-incremental reads, and snapshot-pinned reads for
exact resume — all through Spark's DataSourceV2, so scan pruning /
predicate pushdown / AQE behave exactly as on the parquet stand-in used
everywhere else in this repo (the sandbox ships no
``iceberg-spark-runtime`` jar; every entry point is therefore gated on
:func:`iceberg_available`, and ``tests/test_iceberg.py`` auto-skips
without it).

Why bucket(doc_id): at 10^12 documents the engine's joins (quality
semi-join, dedup keeper join, lineage anti-join) are all doc_id-equi.
An Iceberg ``bucket(N, doc_id)`` hidden partition gives storage-aligned
hash distribution those joins can exploit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_CATALOG_IMPL = "org.apache.iceberg.spark.SparkCatalog"
ICEBERG_EXTENSIONS = (
    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(ICEBERG_CATALOG_IMPL)  # noqa: SLF001
        return True
    except Exception:
        return False


def catalog_conf(name: str = "local",
                 warehouse: str = "file:///tmp/iceberg_warehouse",
                 catalog_type: str = "hadoop") -> dict:
    """SparkSession config pairs for an Iceberg catalog.

    Pass to ``get_spark(extra_conf=catalog_conf(...))``. ``hadoop`` type
    needs only a warehouse path (file://, hdfs://, s3a://); swap
    ``catalog_type`` for ``rest``/``hive``/``glue`` in real deployments.
    """
    return {
        f"spark.sql.catalog.{name}": ICEBERG_CATALOG_IMPL,
        f"spark.sql.catalog.{name}.type": catalog_type,
        f"spark.sql.catalog.{name}.warehouse": warehouse,
        "spark.sql.extensions": ICEBERG_EXTENSIONS,
    }


DOCUMENTS_SCHEMA_SQL = (
    "doc_id STRING, "
    "spans ARRAY<STRUCT<kind: STRING, text: STRING, "
    "media_ref: STRING, offset: INT>>")


def documents_table_ddl(table: str, buckets: int = 128,
                        schema_sql: str = DOCUMENTS_SCHEMA_SQL) -> str:
    """DDL for the bucketed document table — the SQL twin of
    :func:`create_documents_table` (same hidden partitioning), testable
    without the runtime jar."""
    return (f"CREATE TABLE IF NOT EXISTS {table} ({schema_sql}) "
            f"USING iceberg "
            f"PARTITIONED BY (bucket({buckets}, doc_id)) "
            f"TBLPROPERTIES ('write.distribution-mode' = 'hash', "
            f"'format-version' = '2')")


def merge_upsert_sql(table: str, source_view: str,
                     key: str = "doc_id") -> str:
    """Idempotent upsert of a (re)processed batch into the table —
    MERGE keyed on ``key`` so a retried partition never duplicates
    rows (the write-side half of the lineage/resume contract)."""
    return (f"MERGE INTO {table} t USING {source_view} s "
            f"ON t.{key} = s.{key} "
            f"WHEN MATCHED THEN UPDATE SET * "
            f"WHEN NOT MATCHED THEN INSERT *")


def snapshot_read_options(snapshot_id: int | None = None) -> dict:
    """Reader options for a snapshot-pinned scan (empty dict = current
    snapshot). Factored out of :func:`read_documents_table` so the
    option plumbing is assertable without a catalog."""
    return {} if snapshot_id is None else {"snapshot-id": str(snapshot_id)}


def incremental_read_options(start_snapshot_id: int,
                             end_snapshot_id: int | None = None) -> dict:
    """Reader options for the append-feed between two snapshots
    (start exclusive, end inclusive — Iceberg's incremental-scan
    contract)."""
    opts = {"start-snapshot-id": str(start_snapshot_id)}
    if end_snapshot_id is not None:
        opts["end-snapshot-id"] = str(end_snapshot_id)
    return opts


def create_documents_table(docs: DataFrame, table: str,
                           buckets: int = 128) -> None:
    """Create (or replace) a document table bucketed on doc_id.

    ``bucket(N, doc_id)`` hidden partitioning: doc_id-equi joins and the
    exact-dedup groupBy hit storage-aligned distribution; Iceberg prunes
    buckets for point lookups (J2 item-by-productid semantics).
    """
    from pyspark.sql.functions import partitioning
    (docs.writeTo(table)
         .partitionedBy(partitioning.bucket(buckets, "doc_id"))
         .createOrReplace())


def append_documents(docs: DataFrame, table: str) -> None:
    """Transactional append — one Iceberg snapshot per call (the commit
    granularity the incremental reader below consumes)."""
    docs.writeTo(table).append()


def read_documents_table(spark: SparkSession, table: str,
                         snapshot_id: int | None = None) -> DataFrame:
    """Scan an Iceberg document table, optionally pinned to a snapshot.

    Snapshot pinning is the object-store-safe foundation for exact
    resume (plans/lineage.py): a rerun against the SAME snapshot sees
    the same rows regardless of concurrent appends.
    """
    return (spark.read.format("iceberg")
            .options(**snapshot_read_options(snapshot_id))
            .load(table))


def read_appends_between(spark: SparkSession, table: str,
                         start_snapshot_id: int,
                         end_snapshot_id: int | None = None) -> DataFrame:
    """Incremental read: only rows appended after ``start_snapshot_id``
    (exclusive), up to ``end_snapshot_id`` (inclusive)."""
    return (spark.read.format("iceberg")
            .options(**incremental_read_options(start_snapshot_id,
                                                end_snapshot_id))
            .load(table))


def current_snapshot_id(spark: SparkSession, table: str) -> int | None:
    """Latest snapshot id (record alongside run_id in the lineage table
    so resume can pin its rescan)."""
    rows = (spark.sql(f"SELECT snapshot_id FROM {table}.snapshots "
                      "ORDER BY committed_at DESC LIMIT 1").collect())
    return rows[0][0] if rows else None
