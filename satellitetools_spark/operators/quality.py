"""Quality-information operators: QI filtering, tile-mode selection,
duplicate-product elimination, ragged-document drop.

Reference semantics:
- class percentages (A1): per scene, fraction of AOI pixels per SCL class
  (aws.py:620-643). The engine computes them in the fused per-document QI
  pass (``sources/decode.qi_percentages``), whose output carries the scene
  metadata — the reference's QI table (sentinel2.py:537-562).
- QI filter (P6): drop scenes with NaN SCL stats; keep scenes where the sum
  of the filtered-class percentages ≤ threshold (sentinel2.py:778-808).
- tile mode (P5): most-common tile per AOI, then filter to it
  (sentinel2.py:564-593, 811-812).
- duplicate elimination (W3): among documents sharing (aoi, productid),
  keep the one whose processing pipeline is 'sentinel-2-c1-l2a-to-stac'.
  This implements the reference's *intended* semantics — its
  ``remove_duplicate_items`` computes the filtered list but returns the
  input (aws.py:212-247, a real bug we do not reproduce).
- ``select_survivors`` chains the three over the QI table; the plan
  semi-joins its doc_ids back to the documents (P7/J4,
  sentinel2.py:595-622).

All operators are single hash-aggregations / window functions — partial
aggregation map-side, no driver collects, broadcast-friendly outputs.
"""

from __future__ import annotations

from functools import reduce
from operator import add
from typing import List

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import S2_FILTER1, SCL_CLASSES


def filter_by_quality(qi: DataFrame, qi_threshold: float = 0.02) -> DataFrame:
    """P6: NaN-drop + threshold on the sum of the reference's default
    filtered classes (``S2_FILTER1``)."""
    non_null = reduce(lambda a, c: a & F.col(c).isNotNull(), SCL_CLASSES, F.lit(True))
    qsum = reduce(add, [F.col(c) for c in S2_FILTER1])
    return qi.filter(non_null).filter(qsum <= F.lit(qi_threshold))


def tile_mode(qi_or_dim: DataFrame) -> DataFrame:
    """P5/A12: most-common tileid per AOI (ties broken by tileid for
    determinism). Returns (aoi, tileid)."""
    w = Window.partitionBy("aoi").orderBy(F.desc("cnt"), F.asc("tileid"))
    return (
        qi_or_dim.groupBy("aoi", "tileid").count().withColumnRenamed("count", "cnt")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("aoi", "tileid")
    )


def dedup_products(df: DataFrame) -> DataFrame:
    """W3/U2 intended semantics: one row per (aoi, productid), preferring the
    c1 processing pipeline, then assetid for determinism."""
    pref = F.when(F.col("processing").contains("sentinel-2-c1-l2a-to-stac"), 0).otherwise(1)
    w = Window.partitionBy("aoi", "productid").orderBy(pref.asc(), F.col("assetid").asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def select_survivors(qi: DataFrame, qi_threshold: float = 0.02) -> DataFrame:
    """Composite P8 over a self-contained QI table (the fused
    ``qi_percentages`` output, which carries scene metadata): QI threshold →
    intended dedup → tile mode. All document-cardinality shuffles.

    One explicit hash repartition on ``aoi`` up front satisfies every
    downstream distribution requirement — the dedup window (aoi, productid),
    the tile-count window (aoi, tileid), and the mode window (aoi) — and the
    tile-mode filter is expressed as windows instead of an aggregate+join,
    so Catalyst plans the whole chain with a SINGLE exchange."""
    passing = filter_by_quality(qi, qi_threshold)
    passing = passing.repartition("aoi")
    deduped = dedup_products(passing)
    # tile mode via windows: per-(aoi,tile) count, then the first tileid in
    # (count desc, tileid asc) order — same semantics as tile_mode()
    w_cnt = Window.partitionBy("aoi", "tileid")
    w_mode = Window.partitionBy("aoi").orderBy(
        F.desc("_tile_cnt"), F.asc("tileid"))
    return (
        deduped.withColumn("_tile_cnt", F.count("*").over(w_cnt))
        .withColumn("_mode_tile", F.first("tileid").over(w_mode))
        .filter(F.col("tileid") == F.col("_mode_tile"))
        .drop("_tile_cnt", "_mode_tile")
    )


# --- P9: ragged-data consistency drop (reference gee.py:161-174) ----------

def band_chunk_counts(docs: DataFrame, bands: List[str]) -> DataFrame:
    """Per-document chunk-span count for each of ``bands`` — one codegen
    pass over the spans array, no explode, no shuffle."""
    refs = F.col("spans.media_ref")
    counts = [
        F.size(F.filter(refs, lambda r: r.contains(f"/{b}/")))
        .alias(f"n_{b}") for b in bands
    ]
    return docs.select("doc_id", *counts)


def drop_ragged_documents(docs: DataFrame) -> DataFrame:
    """P9: drop documents whose per-band chunk counts are inconsistent
    within a native-resolution group (the reference drops dates whose data
    arrays have mismatched lengths, gee.py:161-174; its missing-data test
    scenarios are tests/test_aws.py:207-237).

    Bands at the same native GSD share a chunk grid over the same read
    window, so a well-formed document has identical chunk counts within
    each group; any disagreement means a lost/duplicated chunk and the
    document is dropped whole (a torn scene cannot be decoded
    consistently). Pure whole-stage-codegen span expressions — the filter
    runs inside the scan stage.
    """
    from ..constants import S2_BANDS_10_20, S2_BAND_GSD
    bands = S2_BANDS_10_20 + ["SCL"]
    groups: dict = {}
    for b in bands:
        groups.setdefault(S2_BAND_GSD[b], []).append(b)
    refs = F.col("spans.media_ref")

    def cnt(b):
        return F.size(F.filter(refs, lambda r: r.contains(f"/{b}/")))

    consistent = F.lit(True)
    for _gsd, grp in sorted(groups.items()):
        first = cnt(grp[0])
        for b in grp[1:]:
            consistent = consistent & (cnt(b) == first)
    return docs.filter(consistent)
