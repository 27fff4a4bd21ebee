"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (cloud-filtered NDVI+LAI timeseries
over the interleaved-document table). ``queries()``/``oracle_sql()`` expose
every implemented operator from SURVEY.md §2 plus the training-data-pipeline
operators, each with a DuckDB-runnable ANSI-SQL oracle where expressible.

Geo queries read the deterministic synthetic interleaved-document dataset
generated by ``satellitetools_spark.datagen`` (keyed to the sf tag of
``sf_dir``); their oracles read the datagen's independent NumPy-brute-force
ground-truth parquet via absolute-path ``read_parquet``. Text/similarity
queries run directly on the provided ``documents``/``embeddings`` tables.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from satellitetools_spark.biophys.nn import snap_sql_expr
from satellitetools_spark.constants import (
    BIOPHYS_COLUMN,
    CELL_SIZE_M,
    SCL_CLASSES,
    S2_FILTER1,
    SNAP_BIO_BANDS as SNAP_BANDS,
)
from satellitetools_spark.datagen import ensure_geodata, geodata_dir, tag_for_sf_dir
from satellitetools_spark.operators import checks as CHK
from satellitetools_spark.operators import dedup as D
from satellitetools_spark.operators import graph as GR
from satellitetools_spark.operators import inference as INF
from satellitetools_spark.operators import media as M
from satellitetools_spark.operators import modeleval as ME
from satellitetools_spark.operators import sampling as SAMP
from satellitetools_spark.operators import segment as SEG
from satellitetools_spark.operators import similarity as SIM
from satellitetools_spark.operators import sketch as SKETCH
from satellitetools_spark.operators import skew as SK
from satellitetools_spark.operators import temporal as TEMPORAL
from satellitetools_spark.operators import spatial as SP
from satellitetools_spark.operators import text as TX
from satellitetools_spark.operators.knn_fill import knn_fill
from satellitetools_spark.operators.indices import compute_vegetation_index, ndvi_col
from satellitetools_spark.operators.quality import (
    dedup_products,
    select_survivors,
    tile_mode,
)
from satellitetools_spark.operators.timeseries import dataset_to_timeseries
from satellitetools_spark.plans import flagship_timeseries, get_s2_qi_and_data
from satellitetools_spark.sources import (
    decode_documents,
    doc_dimension,
    explode_spans,
    read_documents,
    reassemble_documents,
)
from satellitetools_spark.sources.decode import qi_percentages

NEARDUP_TAU = 0.45  # embedding-cosine near-dup threshold for this dataset

ORACLE_TAG = "sf0.01"  # the driver's correctness scale
RAGGED_TAG = "sf0.01r"  # ragged-ingest variant for the P9 gate

QUERY_VEC_IDS = [0, 1, 2, 3, 4]
JACCARD_N = 3
JACCARD_T = 0.5


def _geo_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = tag_for_sf_dir(sf_dir)
    d = ensure_geodata(tag)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_documents(spark, os.path.join(d, "docs.parquet"))


def _t(col: str = "acquisition_time"):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias("time_str")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-AOI cloud-filtered NDVI + SNAP-LAI timeseries with
    uncertainty and 95% confidence intervals, over interleaved documents."""
    docs = _geo_docs(spark, "/root/testdata/sf0.001")
    return flagship_timeseries(docs)


# ---------------------------------------------------------------------------
# geo queries (SURVEY §2 operators)
# ---------------------------------------------------------------------------

def q_geo_pixels(spark, sf_dir):
    """J1+S4+F14/F15: decode + spatial join, every doc, all pixel rows."""
    docs = _geo_docs(spark, sf_dir)
    px = decode_documents(docs, bands=["B2", "B4", "B8A", "B11", "SCL"])
    return px.select(
        "doc_id", "x", "y",
        F.round("B2", 9).alias("b2"), F.round("B4", 9).alias("b4"),
        F.round("B8A", 9).alias("b8a"), F.round("B11", 9).alias("b11"),
        F.col("SCL").alias("scl"), "aoi_pixels",
    )


def q_geo_qi(spark, sf_dir):
    """A1: per-scene SCL class percentages at QI scale (the flagship's
    fused QI pass)."""
    qi = qi_percentages(_geo_docs(spark, sf_dir))
    cols = [F.round(c, 9).alias(c.lower()) for c in SCL_CLASSES]
    return qi.select("doc_id", "aoi", "tileid", "assetid", "productid", *cols)


def q_geo_qi_filter(spark, sf_dir):
    """P6+P7+W3+P5 composite: surviving documents after QI threshold,
    intended dedup, and tile-mode filtering."""
    qi = qi_percentages(_geo_docs(spark, sf_dir))
    surv = select_survivors(qi, qi_threshold=0.02)
    return surv.select("doc_id", "aoi", "tileid", "productid")


def q_geo_tile_mode(spark, sf_dir):
    """P5/A12: modal tile per AOI over all searched scenes."""
    docs = _geo_docs(spark, sf_dir)
    return tile_mode(doc_dimension(docs))


def q_geo_dedup(spark, sf_dir):
    """W3/U2 intended duplicate elimination over all scenes."""
    docs = _geo_docs(spark, sf_dir)
    return dedup_products(doc_dimension(docs)).select(
        "doc_id", "aoi", "productid", "processing")


def q_geo_ndvi_timeseries(spark, sf_dir):
    """Flagship minus NN: QI-filtered per-date NDVI statistics (A3-A4,F10)."""
    docs = _geo_docs(spark, sf_dir)
    _qi, px = get_s2_qi_and_data(docs, bands=["B4", "B8A", "SCL"])
    px = compute_vegetation_index(px, "ndvi")
    ts = dataset_to_timeseries(px, ["ndvi"])
    return ts.select(
        "aoi", F.date_format("time", "yyyy-MM-dd HH:mm:ss").alias("time_str"),
        F.round("ndvi", 6).alias("ndvi"),
        F.round("ndvi_F050", 6).alias("ndvi_f050"),
        F.round("ndvi_std", 6).alias("ndvi_std"),
        F.round("ndvi_se", 6).alias("ndvi_se"),
        F.round("ndvi_aoi_nan_percentage", 6).alias("ndvi_nan_pct"),
    )


def q_geo_lai_pixels(spark, sf_dir):
    """M1-M8: per-pixel SNAP LAI over every document (no QI filter)."""
    docs = _geo_docs(spark, sf_dir)
    px = decode_documents(docs, snap_vars=["LAI"])
    return px.select("doc_id", "x", "y", F.round("lai", 5).alias("lai"))


def q_geo_lai_timeseries(spark, sf_dir):
    """Full flagship: QI filter → SNAP LAI → stats + uncertainty + 95% CI
    (A3-A10)."""
    docs = _geo_docs(spark, sf_dir)
    _qi, px = get_s2_qi_and_data(docs, snap_vars=["LAI"])
    ts = dataset_to_timeseries(px, ["lai"], add_uncertainty=True,
                               add_confidence_intervals=True)
    return ts.select(
        "aoi", F.date_format("time", "yyyy-MM-dd HH:mm:ss").alias("time_str"),
        F.round("lai", 5).alias("lai"),
        F.round("lai_F050", 5).alias("lai_f050"),
        F.round("lai_std", 5).alias("lai_std"),
        F.round("lai_se", 5).alias("lai_se"),
        F.round("lai_uncertainty", 5).alias("lai_unc"),
        F.round("lai_F0025", 5).alias("lai_lo"),
        F.round("lai_F0975", 5).alias("lai_hi"),
        F.round("lai_aoi_nan_percentage", 6).alias("lai_nan_pct"),
    )


def q_geo_vi_pixels(spark, sf_dir):
    """F10-F13: all three vegetation indices per pixel (NDVI, CI_RED_EDGE,
    GCC), computed as whole-stage-codegen column expressions."""
    docs = _geo_docs(spark, sf_dir)
    px = decode_documents(docs, bands=["B2", "B3", "B4", "B5", "B7", "B8A"])
    from satellitetools_spark.operators.indices import with_all_indices
    px = with_all_indices(px)
    return px.select(
        "doc_id", "x", "y",
        F.round("ndvi", 6).alias("ndvi"),
        F.round("ci_red_edge", 6).alias("ci_red_edge"),
        F.round("gcc", 6).alias("gcc"))


def q_geo_snap_all(spark, sf_dir):
    """M1-M8 x5: every SNAP biophysical variable (LAI, FAPAR, FCOVER,
    CCC=LAI_Cab, CWC=LAI_Cw) per pixel, fused into the decode pass."""
    docs = _geo_docs(spark, sf_dir)
    px = decode_documents(docs, bands=SNAP_BANDS,
                          snap_vars=list(BIOPHYS_COLUMN))
    return px.select(
        "doc_id", "x", "y",
        *[F.round(c, 5).alias(c) for c in BIOPHYS_COLUMN.values()])


def q_geo_cell_join(spark, sf_dir):
    """Standalone J1 at scale: arbitrary (tileid, x, y) point table joined
    to the AOI polygon dimension via the planar cell index (broadcast
    cell-cover equi-join + vectorized ray-casting refinement). The AOI
    dimension stays a DataFrame end-to-end — cover build is a distributed
    mapInPandas, zero driver collect at any AOI cardinality."""
    docs = _geo_docs(spark, sf_dir)
    aoi_df = (doc_dimension(docs)
              .select("aoi", "tileid",
                      F.col("aoi_geometry").alias("geometry"), "utm_zone")
              .distinct())
    pts = _geo(spark, sf_dir, "oracle_pixels") \
        .select("doc_id", "tileid", "x", "y")
    return SP.cell_join_df(pts, aoi_df).select("doc_id", "x", "y", "aoi")


def q_geo_knn_fill(spark, sf_dir):
    """J7/S8 analog: IDW-kNN gap-filling of nodata pixels (k=4), filled
    rows only."""
    docs = _geo_docs(spark, sf_dir)
    px = decode_documents(docs, bands=["B4"])
    filled = knn_fill(px, ["B4"])
    return (filled.filter(F.col("B4_filled") & ~F.isnan("B4")
                          & F.col("B4").isNotNull())
            .select("doc_id", "x", "y", F.round("B4", 9).alias("b4")))


def q_geo_hot_tile_counts(spark, sf_dir):
    """Axis-B skew path: two-stage salted partial+final count per tileid
    (the explicit map-side-combine form for hot keys)."""
    docs = _geo_docs(spark, sf_dir)
    return SK.salted_group_count(doc_dimension(docs),
                                 n_salt=16).withColumnRenamed("count", "n")


MEDIA_DIM = 4


def q_media_features(spark, sf_dir):
    """Multimodal decode plumbing: media spans → deterministic stand-in
    feature vectors via mapInPandas (real decode stubbed behind
    NotImplementedError — no imaging libs in this environment). The
    stand-in is pure md5 arithmetic, so the features themselves are
    oracle-checked in SQL — the Arrow batch path, schema, and span
    explode are all value-verified, not just row-counted."""
    docs = _geo_docs(spark, sf_dir)
    media = explode_spans(docs).filter(F.col("kind") == "media")
    feats = M.media_features(media, dim=MEDIA_DIM)
    return feats.select(
        "doc_id", "media_ref",
        F.posexplode("feature").alias("dim_idx", "v"),
    ).select("doc_id", "media_ref", "dim_idx",
             F.round("v", 9).alias("feature_val"))


def q_emb_cosine_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (vec_id_a < vec_id_b,
    cosine >= tau) — brute-force exact (the oracle-checkable baseline)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    a = emb.select(F.col("vec_id").alias("vec_id_a"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_id_b"),
                   F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
    pairs = SIM.with_cosine(pairs, "va", "vb")
    return (pairs.filter(F.col("cosine") >= NEARDUP_TAU)
            .select("vec_id_a", "vec_id_b",
                    F.round("cosine", 6).alias("cosine")))


def q_geo_ragged_drop(spark, sf_dir):
    """P9 ragged-data consistency drop (reference gee.py:161-174): over the
    ragged-ingest dataset (a deterministic subset of documents is missing
    one chunk span in one band), keep only documents whose per-band chunk
    counts agree within each native-resolution group. Pure codegen span
    expressions - the filter runs inside the scan stage."""
    from satellitetools_spark.operators.quality import (
        band_chunk_counts, drop_ragged_documents)
    d = ensure_geodata(RAGGED_TAG)
    docs = read_documents(spark, os.path.join(d, "docs.parquet"))
    kept = drop_ragged_documents(docs)
    return band_chunk_counts(kept, ["B3", "B4", "B5", "SCL"]).select(
        "doc_id", F.col("n_B3").alias("n_b3"), F.col("n_B4").alias("n_b4"),
        F.col("n_B5").alias("n_b5"), F.col("n_SCL").alias("n_scl"))


def q_geo_angle_means(spark, sf_dir):
    """F18: mean observation angles recomputed from the RAW per-detector
    arrays carried in the scene-metadata text span (reference granule-XML
    parse + mean, aws.py:685-727) - from_json + aggregate fold, all
    codegen. Compared against the independent flat scenes dimension."""
    from satellitetools_spark.sources.docs import observation_angle_means
    docs = _geo_docs(spark, sf_dir)
    am = observation_angle_means(docs)
    return am.select(
        "doc_id",
        F.round("view_azimuth_mean", 9).alias("va_mean"),
        F.round("view_zenith_mean", 9).alias("vz_mean"),
        F.round("view_azimuth", 9).alias("va_scalar"),
        F.round("view_zenith", 9).alias("vz_scalar"))


def q_geo_scene_identity(spark, sf_dir):
    """F6-F8: sensing timestamp, MGRS tile decompose/recompose, and EPSG
    normalization derived from the RAW productid/projection strings in the
    scene-metadata span (reference aws.py:375-401) - one codegen
    projection. Oracle recomputes the same derivations from the independent
    flat scenes dimension with DuckDB string functions."""
    from satellitetools_spark.sources.docs import parse_scene_identity
    return parse_scene_identity(_geo_docs(spark, sf_dir))


def q_geo_dem_lookup(spark, sf_dir):
    """S8: DEM point lookup as a broadcast cell-keyed join against a second
    (elevation) table - every inside-AOI pixel gains the elevation of its
    planar cell."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside").select("doc_id", "x", "y"))
    dem = _geo(spark, sf_dir, "dem")
    out = SP.dem_lookup(px, dem)
    return out.select("doc_id", "x", "y", "elevation")


def q_emb_lsh_pairs(spark, sf_dir):
    """Embedding near-dup pairs at SCALE: random-hyperplane LSH banding →
    candidate band collisions → exact cosine verification (the vector
    analog of docs_minhash_pairs). Banding here is sized for recall ~1 at
    this dataset's low tau (see similarity.rh_lsh_pairs); output equals
    the brute-force emb_cosine_pairs, checked by the same oracle."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return SIM.rh_lsh_pairs(emb, threshold=NEARDUP_TAU)


def q_geo_span_roundtrip(spark, sf_dir):
    """W4 invariant: explode → reassemble; per-doc span-sequence digest."""
    docs = _geo_docs(spark, sf_dir)
    back = reassemble_documents(explode_spans(docs))
    sig = F.md5(F.array_join(F.transform(
        "spans", lambda s: F.concat_ws("", s["kind"], s["text"], s["media_ref"])),
        ""))
    return back.select("doc_id", F.size("spans").alias("n_spans"), sig.alias("digest"))


def q_geo_media_stats(spark, sf_dir):
    """Multimodal plumbing: per-doc media span statistics (no explode)."""
    docs = _geo_docs(spark, sf_dir)
    return M.media_span_stats(docs)


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings / events tables)
# ---------------------------------------------------------------------------

def _documents(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def q_geo_zorder_key(spark, sf_dir):
    """Z-order (Morton) spatial layout key per pixel — the clustered-write
    primitive: sorting by zkey makes per-file min/max stats prune 2-D bbox
    predicates. Ten shift/mask codegen ops per coordinate, no UDF; oracle
    computes the bit-identical interleave in SQL."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside").select("doc_id", "x", "y"))
    return px.withColumn("zkey", SP.zorder_key(F.col("x"), F.col("y")))


def q_docs_exact_dedup(spark, sf_dir):
    return D.exact_dedup(_documents(spark, sf_dir))


def q_docs_jaccard_pairs(spark, sf_dir):
    return D.jaccard_pairs(_documents(spark, sf_dir), threshold=JACCARD_T)


def q_docs_minhash_pairs(spark, sf_dir):
    """MinHash+LSH with exact verification — scale path; same oracle as the
    brute-force pair join (recall ≥ 1-3e-8 at J≥0.9 with 16 bands x 4)."""
    return D.minhash_lsh_pairs(_documents(spark, sf_dir))


def q_docs_pagerank(spark, sf_dir):
    """PageRank over the near-duplicate graph (MinHash+LSH verified
    pairs as undirected edges), 3 unrolled power iterations — picks the
    most-connected canonical copy inside each dup cluster. Oracle: the
    identical iterations as CTE layers over the exact-Jaccard pair
    set."""
    pairs = D.minhash_lsh_pairs(_documents(spark, sf_dir))
    return GR.pagerank(pairs, iters=3)


def q_docs_dup_components(spark, sf_dir):
    """Duplicate-cluster assignment: MinHash+LSH pairs → connected
    components (iterative min-label propagation, one shuffle per round,
    rounds = cluster diameter). Oracle: recursive-CTE transitive closure
    over the same (exact-Jaccard) pair set."""
    pairs = D.minhash_lsh_pairs(_documents(spark, sf_dir))
    return D.connected_components(pairs)


def q_docs_dup_keeper(spark, sf_dir):
    """Quality-aware canonical-copy selection per dup cluster
    (score DESC, doc_id ASC keeper) — the dedup finishing step over
    MinHash components + the quality operator. Oracle: identical
    ranked window over the exact-Jaccard closure."""
    docs = _documents(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs)
    comp = D.connected_components(pairs)
    return D.dup_keeper(comp, TX.quality_score(docs))


def q_geo_knn_join(spark, sf_dir):
    """k-nearest-station join (k=3, exact within the 480 m candidate
    radius — every pixel has ≥3 DEM-cell stations there): distance-join
    candidates + one ranked window per pixel. Oracle: brute-force
    cross-join window."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside").select("doc_id", "x", "y"))
    dem = _geo(spark, sf_dir, "dem")
    stations = dem.select(
        F.col("cell").alias("station_id"),
        ((F.pmod(F.col("cell"), F.lit(2 ** 32)) + 0.5) * CELL_SIZE_M)
        .alias("sx"),
        ((F.floor(F.col("cell") / F.lit(2 ** 32)) + 0.5) * CELL_SIZE_M)
        .alias("sy"))
    out = SP.knn_join(px, stations, radius=3 * CELL_SIZE_M)
    return out.select("doc_id", "x", "y", "station_id", "dist",
                      "knn_rank", "truncated")


def q_geo_scl_pivot(spark, sf_dir):
    """Wide SCL crosstab per scene document: pinned-value pivot — ONE
    map-side-combined hash agg, stable 12-column schema, absent classes
    0. Oracle: conditional-aggregation columns."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside").select("doc_id", "SCL"))
    return CHK.pivot_counts(px, "SCL", values=list(range(12)), prefix="scl_")


def q_docs_bpe_merges(spark, sf_dir):
    """BPE tokenizer-training loop (8 merges) as one lazy unrolled
    relational plan — each iteration's winning pair broadcasts into
    the next iteration's greedy fold, never a driver collect. Oracle:
    identical unrolled CTE layers with the same fold."""
    return TX.bpe_merges(_documents(spark, sf_dir), n_merges=8)


def q_docs_char_entropy(spark, sf_dir):
    """Per-document char-distribution entropy (bits) — gibberish /
    boilerplate detection. Shuffle bounded at doc × alphabet by
    map-side combine. Oracle: identical counts and fold."""
    return TX.char_entropy(_documents(spark, sf_dir))


def q_geo_scl_coarse_mode(spark, sf_dir):
    """Majority-vote categorical downsampling of the SCL raster to
    40 m cells (highest count, then smallest class — the correct rule
    for class rasters where averaging IDs is meaningless). Oracle:
    identical counts and tie order."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside").select("x", "y", "SCL"))
    return SP.categorical_mode_grid(px, size_m=40.0)


def q_events_skew_report(spark, sf_dir):
    """Key-skew diagnosis of events.user_id (max share + Gini over the
    key-frequency distribution) — decides salting before the shuffle
    falls over. Oracle: identical folds."""
    return CHK.skew_report(_events(spark, sf_dir), "user_id")


def q_docs_fuzzy_pairs(spark, sf_dir):
    """Typo-pair mining without a cross join: symmetric-delete
    (SymSpell) blocking — COMPLETE for lev ≤ 2 — then exact JVM
    levenshtein verification on candidates only. Oracle: brute-force
    vocabulary cross join (independent algorithm, pins completeness)."""
    return TX.fuzzy_token_pairs(_documents(spark, sf_dir), max_dist=2)


def q_docs_quality_pctile(spark, sf_dir):
    """Per-document quality percentile within its language
    (percent_rank, ties share rank) — 'top X% per language' curation
    without precomputing thresholds. Oracle: identical window."""
    return TX.quality_percentiles(_documents(spark, sf_dir))


def q_docs_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (Hamming ≤ 3). Banding is lossless at this
    distance (pigeonhole), so the result is exact and fully oracle-checked
    (md5 bit-majority kernel reproduced in DuckDB); also verified in
    pytest against a local reimplementation."""
    return D.simhash_near_pairs(_documents(spark, sf_dir))


def q_docs_lang_id(spark, sf_dir):
    return TX.lang_id(_documents(spark, sf_dir))


def q_docs_quality(spark, sf_dir):
    return TX.quality_score(_documents(spark, sf_dir))


def q_docs_token_stats(spark, sf_dir):
    return TX.token_stats(_documents(spark, sf_dir))


def q_docs_doc_frequency(spark, sf_dir):
    """Corpus document-frequency / IDF table: one distinct-token explode →
    vocabulary-cardinality hash agg; corpus size via broadcast cross join
    (no driver action)."""
    return TX.doc_frequency(_documents(spark, sf_dir))


def q_docs_tfidf_topk(spark, sf_dir):
    """Top-5 characteristic terms per document by tf-idf: per-doc term
    counts broadcast-joined to the IDF table, per-doc window rank with
    deterministic ties."""
    return TX.tfidf_topk(_documents(spark, sf_dir), k=5)


def q_docs_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment: portable polynomial hash of
    doc_id → bucket → split label; pure codegen, stable under any
    repartitioning (bit-identical to the DuckDB oracle)."""
    return SAMP.hash_split(_documents(spark, sf_dir)).select(
        "doc_id", "bucket", "split")


STRAT_FRACS = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1, "zh": 1.0}


def q_docs_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum Bernoulli sample: keep iff
    portable_hash(doc_id:lang) lands under the stratum's threshold —
    membership is a pure function of the row, stable across runs and
    partitionings; map-only codegen (bit-identical to the oracle)."""
    return SAMP.stratified_sample(
        _documents(spark, sf_dir).select("doc_id", "lang", "source"),
        stratum_col="lang", fractions=STRAT_FRACS)


def q_docs_global_order(spark, sf_dir):
    """Global row index in (n_tokens DESC, doc_id) order — length-sorted
    curriculum / batching index. Scale-safe total order: one range shuffle
    + local sort, constant-size per-partition count metadata, map-only
    offset projection (no single-partition window, no second shuffle)."""
    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
         .alias("n_tokens"))
    return SAMP.global_row_number(
        docs, [F.col("n_tokens").desc(), F.col("doc_id")],
        num_partitions=8)


def q_docs_quality_quantiles(spark, sf_dir):
    """Per-language calibration stats of the composite quality score
    (count / mean / exact interpolated quartiles) — the numbers that set a
    per-stratum quality threshold; one hash agg with map-side partials."""
    return TX.quality_quantiles(_documents(spark, sf_dir))


def q_docs_repetition(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021 A1.1): duplicate
    lines / duplicate-line char mass / top word-2,3-gram token fraction —
    per-row sorted-array folds, zero shuffle."""
    return TX.repetition_stats(_documents(spark, sf_dir))


def q_docs_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing: portable-hash shard, per-shard
    window cumsum -> (pack_id, pack_pos); deterministic under any
    repartitioning."""
    return SAMP.pack_sequences(_documents(spark, sf_dir), seq_len=512,
                               n_shards=8)


def q_docs_redact(spark, sf_dir):
    """PII scrub (emails / IPv4 / long digit runs) with per-kind match
    counts — map-only regexp codegen, fuses into the scan."""
    return TX.redact_pii(_documents(spark, sf_dir))


def q_docs_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus docs sharing any word 5-gram
    with a held-out 'benchmark' subset (portable-hash bucket 0 of doc_id,
    ~10%% of the corpus) — broadcast gram semi-join + per-doc rollup."""
    docs = _documents(spark, sf_dir)
    is_bench = SAMP.portable_hash(F.col("doc_id")) % 10 == 0
    return D.decontaminate(docs.filter(~is_bench), docs.filter(is_bench))


def q_docs_train_pipeline(spark, sf_dir):
    """End-to-end corpus pipeline (quality -> repetition -> lang ->
    exact-dedup keeper -> sequence packing), fused to one scan + two
    exchanges — see plans/corpus.py."""
    from satellitetools_spark.plans.corpus import train_data_pipeline
    return train_data_pipeline(_documents(spark, sf_dir))


def q_docs_winnow_fp(spark, sf_dir):
    """Winnowing document fingerprints: Rabin-Karp rolling hash over the
    token stream, per-window minima (SIGMOD'03) — all codegen exprs with a
    portable polynomial hash, bit-identical to the DuckDB oracle."""
    return TX.winnow_fingerprints(_documents(spark, sf_dir))


def q_emb_cosine_topk(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return SIM.cosine_topk(emb, QUERY_VEC_IDS, k=10)


def q_emb_ann_ivf(spark, sf_dir):
    """IVF-bucketed approximate ANN. For the gate the seed ranks by the
    portable polynomial hash and Lloyd refinement is off — then the whole
    algorithm (hash-ranked seed, n_assign nearest-list replication,
    nprobe probe, exact top-k over candidates) is deterministic
    relational math reproduced verbatim by a DuckDB oracle. Recall vs
    brute force, the Lloyd path, and the xxhash64 production seed stay
    covered in pytest."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return SIM.ivf_topk(
        emb, QUERY_VEC_IDS, k=10, refine_iters=0,
        seed_order=SAMP.portable_hash(F.col("vec_id")))


def _events(spark, sf_dir):
    """Events table with the session timezone pinned UTC (epoch arithmetic
    on NTZ timestamps must bind to the same instants DuckDB assumes;
    pinning it in the shared loader keeps every event query
    order-independent)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def q_emb_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jegou PQ + ADC): vectors compressed to
    m=8 sub-codebook ids, candidates scored by summing m precomputed
    query-centroid subspace distances — table lookups, no full-dim dot
    per candidate. Portable seed → the encode+ADC pipeline is exact
    relational math with a verbatim DuckDB oracle (recall vs brute force
    stays in pytest with production defaults)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return SIM.pq_topk(
        emb, QUERY_VEC_IDS, seed_order=SAMP.portable_hash(F.col("vec_id")))


BM25_QUERY = ["hash", "join", "shuffle", "vector"]


def q_docs_bm25(spark, sf_dir):
    """Okapi BM25 lexical retrieval for a fixed bag-of-terms query:
    Robertson idf + saturated tf over one tokenize pass (query-filtered
    shuffle, global top-k via TakeOrderedAndProject). The sparse half of
    hybrid retrieval next to emb_* ANN. Oracle: identical pipeline in
    DuckDB."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    return TX.bm25_topk(TX.spread_scan(docs), BM25_QUERY, k=25)


def q_docs_triangles(spark, sf_dir):
    """Per-node triangle counts over the near-duplicate graph
    (degree-oriented enumeration — wedges fan out from low-degree
    apexes only, so hub skew never quadratics). Oracle: identical
    enumeration over the exact-Jaccard pair set."""
    pairs = D.minhash_lsh_pairs(_documents(spark, sf_dir))
    return GR.triangle_count(pairs)


def q_docs_kmv_distinct(spark, sf_dir):
    """KMV distinct-token sketch: k smallest portable-hash values →
    (k-1)*M/h_k estimator, with the exact distinct count alongside for
    error accounting. The oracle reproduces the sketch bit-for-bit —
    an approximate operator under an EXACT gate."""
    return SKETCH.kmv_distinct(_documents(spark, sf_dir), k=256)


def q_docs_kmv_by_lang(spark, sf_dir):
    """Per-language KMV vocabulary sketches (k=64) with exact counts
    alongside — the mergeable per-group form (state = groups × k
    longs). Oracle: bit-identical ranked-window sketch."""
    return SKETCH.kmv_distinct_by(_documents(spark, sf_dir))


def q_emb_dup_clusters(spark, sf_dir):
    """Embedding dup-cluster assignment: random-hyperplane-LSH verified
    pairs → connected components (the vector analog of
    docs_dup_components). Oracle: recursive-CTE closure over the exact
    brute-force cosine pair set."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pairs = SIM.rh_lsh_pairs(emb, threshold=NEARDUP_TAU)
    comp = D.connected_components(pairs, a_col="vec_id_a",
                                  b_col="vec_id_b")
    return comp.select(F.col("doc_id").alias("vec_id"), "component")


def q_docs_pmi_bigrams(spark, sf_dir):
    """Top-50 adjacent-token bigrams by PMI (word2phrase-style
    collocation mining); min_count=5, ranked on round(pmi,6) with a
    word tie-break so the cut is engine-portable."""
    return TX.pmi_bigrams(_documents(spark, sf_dir), k=50)


def q_docs_line_dedup(spark, sf_dir):
    """CCNet-style cross-corpus boilerplate removal over deterministic
    10-token line re-chunks: lines in >1 distinct documents are dropped,
    documents reassembled in order. The count agg keys on md5(line) so
    the shuffle carries digests, not text. Oracle: identical re-chunk,
    count, drop, and ordered reassembly."""
    docs = _documents(spark, sf_dir)
    lines = TX.chunk_lines(TX.spread_scan(docs))
    return TX.line_dedup(lines)


def q_docs_snapshot_diff(spark, sf_dir):
    """Change-data detection between two snapshot versions: ONE
    full-outer key join + NULL-safe column mask. The 'new' snapshot is
    a deterministic mutation both engines derive identically (lang
    rewritten for doc_id%7, doc_id%13 removed, %17 cloned under new
    ids). Oracle: identical join and mask."""
    docs = _documents(spark, sf_dir).select(
        "doc_id", "lang", "n_chars")
    mutated = (docs.filter(F.col("doc_id") % 13 != 0)
               .select("doc_id",
                       F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
                       .otherwise(F.col("lang")).alias("lang"),
                       "n_chars"))
    added = (docs.filter(F.col("doc_id") % 17 == 0)
             .select((F.col("doc_id") + 1000000).alias("doc_id"),
                     "lang", "n_chars"))
    new = mutated.unionByName(added)
    out = CHK.snapshot_diff(docs, new, compare_cols=["lang", "n_chars"])
    # the operator API keeps changed_cols as array<string>; the gate
    # flattens it to a csv string because the driver's canonicalizer
    # (pandas sort_values) cannot hash list cells
    return out.select("doc_id", "status",
                      F.array_join("changed_cols", ",")
                      .alias("changed_cols"))


def q_docs_binned_quantiles(spark, sf_dir):
    """Mergeable binned-CDF quantile estimates of document length
    (n_bins longs of state, error ≤ one bin width) — the 10^12-row
    path the exact percentile operators defer to, deterministic and
    bit-oracle-checked unlike percentile_approx internals."""
    docs = _documents(spark, sf_dir)
    return CHK.binned_quantiles(docs, "n_chars", 0.0, 2000.0, n_bins=200)


def q_docs_histogram(spark, sf_dir):
    """Fixed-width histogram of document length (20 bins over [0, 2000]
    + explicit under/overflow): one hash agg at bin cardinality, empty
    bins emitted. Oracle: identical binning and edge derivation."""
    docs = _documents(spark, sf_dir)
    out = CHK.histogram(docs, "n_chars", 0.0, 2000.0, n_bins=20)
    return out.select("bin", F.round("bin_lo", 6).alias("bin_lo"),
                      F.round("bin_hi", 6).alias("bin_hi"), "n")


def q_docs_salted_join(spark, sf_dir):
    """Axis-B skew join: fact docs joined to a hot-keyed dimension (5
    languages over the whole corpus) via big-side salt + n_salt x dim
    replication on (key, salt) — identical rows to the plain join, no
    straggler partition. Oracle: the plain join."""
    docs = _documents(spark, sf_dir).select("doc_id", "lang", "n_chars")
    dim = (docs.groupBy("lang")
           .agg(F.round(F.avg("n_chars"), 6).alias("lang_mean_chars")))
    out = SK.salted_join(docs, dim, "lang", n_salt=16)
    return out.select("doc_id", "lang", "n_chars", "lang_mean_chars")


def q_docs_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-25 fused with dense cosine
    top-25 (query = the first gate query vector's document) via
    reciprocal-rank fusion — rank-based, calibration-free. Oracle: the
    identical two subqueries + fold in DuckDB."""
    from pyspark.sql import Window as W
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    bm = TX.bm25_topk(TX.spread_scan(docs), BM25_QUERY, k=25)
    bm_r = bm.withColumn(
        "rank", F.row_number().over(
            W.orderBy(F.desc("bm25"), F.asc("doc_id")))
    ).select("doc_id", "rank")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dn = (SIM.cosine_topk(emb, [QUERY_VEC_IDS[0]], k=25)
          .select(F.col("neighbor_id").alias("doc_id"), "rank"))
    return SIM.rrf_fuse([bm_r, dn], k=10)


def q_docs_lm_score(spark, sf_dir):
    """Self-trained char-trigram LM quality score (CCNet/KenLM-style
    filter): one n-gram explode builds smoothed conditional counts
    (shuffle bounded by alphabet^3, not corpus size), scoring hash-joins
    two broadcast model tables. Oracle: identical counts/smoothing in
    DuckDB."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    out = TX.char_ngram_lm_scores(TX.spread_scan(docs))
    return out.select("doc_id", "n_ngrams",
                      F.round("avg_logp", 6).alias("avg_logp"),
                      F.round("ppl", 6).alias("ppl"))


def q_emb_pca_cov(spark, sf_dir):
    """Distributed PCA's oracle surface: the 64x64 covariance matrix from
    ONE NumPy partial-Gram pass (one d+d2 row per partition; driver
    traffic O(d2), row-count independent). The eigensolve/projection are
    not relational algebra — their input is, and is value-checked here;
    the projection itself is pytest-checked against local NumPy."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return SIM.covariance_entries(emb)


def q_events_asof_join(spark, sf_dir):
    """As-of join (operator Spark lacks): every purchase event picks the
    user's most recent error event at or before it. Union + per-key ordered
    carry-forward — ONE shuffle on user_id, no range explosion, no UDF.
    Oracle: DuckDB's native ASOF LEFT JOIN (independent implementation)."""
    from satellitetools_spark.operators.temporal import asof_join
    ev = _events(spark, sf_dir)
    out = asof_join(
        ev.filter(F.col("event_type") == "purchase")
          .select("event_id", "user_id", "ts", "value"),
        ev.filter(F.col("event_type") == "error")
          .select("user_id", "ts", "event_id", "value"),
        on=["user_id"], right_cols=["event_id", "value"])
    return out.select(
        "event_id", "user_id", _t("ts"), "value",
        F.col("ref_event_id"),
        F.date_format("ref_ts", "yyyy-MM-dd HH:mm:ss").alias("ref_time_str"),
        F.round(F.col("ts").cast("timestamp").cast("double")
                - F.col("ref_ts").cast("timestamp").cast("double"),
                3).alias("lag_seconds"))


def q_events_range_join(spark, sf_dir):
    """Equi-key-free range join: all (error, click) event pairs within 60
    seconds of each other across ALL users — bin-bucket candidate join
    (floor(ts/60), 3-bin probe) + exact refine; candidates bounded by bin
    co-occupancy, never |L|x|R|. Oracle: plain inequality theta-join."""
    from satellitetools_spark.operators.temporal import range_join
    ev = _events(spark, sf_dir)
    out = range_join(
        ev.filter(F.col("event_type") == "error")
          .select("event_id", "ts"),
        ev.filter(F.col("event_type") == "click")
          .select("event_id", "ts"),
        tolerance_seconds=60.0)
    return out.select(
        "event_id", _t("ts"),
        F.col("r_event_id"),
        F.date_format("r_ts", "yyyy-MM-dd HH:mm:ss").alias("r_time_str"),
        F.round(F.col("ts").cast("timestamp").cast("double")
                - F.col("r_ts").cast("timestamp").cast("double"),
                3).alias("dt_seconds"))


def q_events_hourly(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.col("event_type"),
                   F.date_format(F.date_trunc("hour", "ts"),
                                 "yyyy-MM-dd HH:mm:ss").alias("hour"))
        .agg(F.count("*").alias("n"),
             F.round(F.avg("value"), 6).alias("avg_value"))
    )


SESSION_GAP_S = 21600.0  # 6 h — ~11 h mean inter-event gap in this stream
GRID_STEP_S = 21600.0
PPS_REF_CHARS = 400  # median n_chars ~306 → most docs sampled sub-1.0


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (operator Spark lacks as a built-in) +
    per-session rollup: new session when >6 h elapses since the user's
    previous event. Boundary decisions on integer micro epochs — exact and
    engine-portable; one shuffle on user_id for the windows, one for the
    rollup. Oracle: the identical window form in DuckDB."""
    from satellitetools_spark.operators.temporal import sessionize
    ev = _events(spark, sf_dir)
    s = sessionize(ev, key=["user_id"], gap_seconds=SESSION_GAP_S)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (s.groupBy("user_id", "session_seq")
             .agg(F.count("*").alias("n_events"),
                  F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
                   .alias("session_start"),
                  F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss")
                   .alias("session_end"),
                  F.round((F.max(us) - F.min(us)) / 1e6, 6)
                   .alias("duration_seconds"),
                  F.round(F.sum("value"), 6).alias("sum_value")))


def q_events_grid_fill(spark, sf_dir):
    """Regular-grid resample with last-observation-carried-forward: each
    user's event stream downsampled to 6-hour ticks, every tick carrying
    the latest event at or before it. Integer-micros grid placement +
    as-of carry-forward. Oracle: generate_series grid + DuckDB native
    ASOF join."""
    from satellitetools_spark.operators.temporal import time_grid_fill
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    out = time_grid_fill(ev, key=["user_id"],
                         step_seconds=GRID_STEP_S,
                         right_cols=["event_id", "value"])
    return out.select(
        "user_id",
        F.date_format("tick_ts", "yyyy-MM-dd HH:mm:ss").alias("tick"),
        F.col("ref_event_id"),
        F.round("ref_value", 6).alias("ref_value"))


def q_events_interp(spark, sf_dir):
    """Linear interpolation onto a regular 6-hour grid: each tick inside a
    user's observed span gets the value linearly interpolated from its
    bracketing events. Segment-ownership explode — one lead-window
    shuffle, map-side sequence(), no range join. Oracle: the identical
    segment + weight formula in DuckDB."""
    from satellitetools_spark.operators.temporal import interpolate_to_grid
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = interpolate_to_grid(ev, key=["user_id"], step_seconds=GRID_STEP_S)
    return out.select(
        "user_id",
        F.date_format("tick_ts", "yyyy-MM-dd HH:mm:ss").alias("tick"),
        F.round("interp_value", 6).alias("interp_value"))


def q_docs_wrs_sample(spark, sf_dir):
    """Exact-size weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): deterministic portable-hash uniforms, ln(u)/w
    ranking keys, global top-n via TakeOrderedAndProject. Oracle:
    identical fold in DuckDB."""
    docs = _documents(spark, sf_dir).select("doc_id", "lang", "n_chars")
    out = SAMP.wrs_sample(docs, "n_chars", n=120)
    return out.select("doc_id", "lang", "n_chars", "wrs_key")


def q_events_anomaly(spark, sf_dir):
    """Trailing-window point-anomaly detection: per-user z-score against
    the previous 24 observations (self-excluded frame, moment-form std,
    min-support + degenerate-std guards) — four window aggregates share
    ONE exchange. Oracle: identical frame and formula in DuckDB."""
    from satellitetools_spark.operators.temporal import rolling_zscore
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = rolling_zscore(ev, key=["user_id"], z_thresh=2.5)
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.round("value", 6).alias("value"), "n_prev",
        F.round("z", 6).alias("z"), "is_anomaly")


def q_events_ewma(spark, sf_dir):
    """Windowed EWMA trend smoothing: 12-lag exponentially-weighted
    chain sharing ONE window frame (exact truncation, present-lag
    normalization). Oracle: identical left-associated chain in DuckDB."""
    from satellitetools_spark.operators.temporal import ewma
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = ewma(ev, key=["user_id"])
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.round("value", 6).alias("value"),
        F.round("ewma", 6).alias("ewma"))


def q_docs_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION: the 8-merge BPE training loop plus
    per-document encoding in one lazy plan — merge training at distinct-
    vocabulary cardinality, symbol lengths broadcast back onto per-doc
    token counts, one doc-cardinality fold. Oracle: identical unrolled
    CTE layers carrying the token string."""
    return TX.bpe_encode(_documents(spark, sf_dir), n_merges=8)


def q_events_transitions(spark, sf_dir):
    """First-order Markov transition matrix of user behavior: one lag
    window per user + a type² hash agg + row-normalizing window over
    the tiny matrix. Oracle: identical lag and normalization."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    return TEMPORAL.transition_counts(ev)


def q_geo_hillshade(spark, sf_dir):
    """Horn-method hillshade of the DEM dimension: packed-cell decode in
    codegen, both Sobel gradients in ONE focal_conv pass, pure-projection
    shading. Oracle: identical stencil correlation + formula."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.hillshade(dem, cell_m=CELL_SIZE_M)


def q_geo_zonal_stats(spark, sf_dir):
    """Zonal statistics: mean/min/max/std NDVI per 50 m DEM elevation
    band — pixels pick their zone via ONE broadcast cell join, one hash
    agg at zone cardinality. Oracle: identical join + moment folds."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .select("x", "y",
                  ndvi_col().alias("ndvi")))
    dem = _geo(spark, sf_dir, "dem")
    zones = dem.select("cell",
                       F.floor(F.col("elevation") / 50.0).cast("long")
                       .alias("zone"))
    return SP.zonal_stats(px, zones, "ndvi")


def q_geo_aoi_metrics(spark, sf_dir):
    """Vector polygon metrics per distinct AOI straight from the span
    GeoJSON (raw coordinate space): vertex/ring/polygon counts,
    shoelace area, perimeter, area centroid — all as array-expression
    folds, no explode. Oracle: identical parse and folds over
    DuckDB's JSON→nested-list cast."""
    from satellitetools_spark.sources.docs import doc_dimension
    docs = _geo_docs(spark, sf_dir)
    dim = doc_dimension(docs).select("aoi", "aoi_geometry")
    aois = (dim.groupBy("aoi")
            .agg(F.min("aoi_geometry").alias("aoi_geometry")))
    return SP.polygon_metrics(aois)


def _ndvi_series(spark, sf_dir):
    """Per-(aoi, date) mean-NDVI series — shared input of the SG /
    harmonic / phenology time-series operators (rounded 6 so threshold
    comparisons downstream are engine-exact)."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .select("aoi",
                  F.date_format("acquisition_time", "yyyy-MM-dd")
                  .alias("date_str"),
                  ndvi_col().alias("v")))
    return (px.groupBy("aoi", "date_str")
            .agg(F.round(F.sum("v") / F.count("v"), 6)
                 .alias("mean_ndvi")))


def q_geo_harmonic(spark, sf_dir):
    """Pooled seasonal harmonic regression of the per-AOI NDVI series
    (a0 + a1·cosωt + b1·sinωt over day-of-year, closed-form normal
    equations): one feature projection, ONE hash agg of ten running
    sums at AOI cardinality, Cramer's-rule projection. Oracle: the
    same expression strings run by DuckDB."""
    series = _ndvi_series(spark, sf_dir)
    return TEMPORAL.harmonic_fit(series, value_col="mean_ndvi")


def q_geo_phenology(spark, sf_dir):
    """Threshold phenology per AOI (50%-amplitude rule): SOS / peak /
    EOS dates and season length from the NDVI series — two hash aggs
    and one key-co-partitioned join. Oracle: identical CTE chain."""
    series = _ndvi_series(spark, sf_dir)
    return TEMPORAL.phenology(series, value_col="mean_ndvi")


def q_geo_moran(spark, sf_dir):
    """Global Moran's I of DEM elevation under queen contiguity: mean
    broadcast, neighbor sums via ONE focal_conv stencil pass, 1-row
    reduction. Oracle: identical stencil + reduction."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.morans_i(SP.dem_pixels(dem, cell_m=CELL_SIZE_M))


def q_geo_flowdir(spark, sf_dir):
    """D8 steepest-descent flow direction per DEM cell (ESRI codes,
    smallest-code tie-break): 8× offset explode, one co-partitioned
    grid equi-join, struct-max argmax at cell cardinality. Oracle:
    identical offsets, join, and argmax."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.flow_direction(dem, cell_m=CELL_SIZE_M)


def q_geo_composite(spark, sf_dir):
    """Greenest-pixel temporal composite: per (x, y), the max-NDVI
    observation across the stack with its date, winning scene, and the
    red/NIR payload — ONE map-side-combinable struct-max hash agg at
    location cardinality. Oracle: identical struct field order."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .select("x", "y", "doc_id",
                  F.date_format("acquisition_time", "yyyy-MM-dd")
                  .alias("date_str"),
                  ndvi_col().alias("ndvi"),
                  "B4", "B8A"))
    return SP.greenest_composite(px, payload_cols=("B4", "B8A"))


def q_geo_gstar(spark, sf_dir):
    """Getis-Ord Gi* hotspot z-score per DEM cell (binary 9-cell
    self-inclusive queen weights): ONE focal_conv stencil pass + a
    broadcast 1-row global-moments agg + a codegen z projection.
    Oracle: identical stencil, moments, and projection."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.getis_ord_gstar(SP.dem_pixels(dem, cell_m=CELL_SIZE_M))


def q_geo_mk_trend(spark, sf_dir):
    """Mann-Kendall trend test (tie-corrected) + Sen's slope of the
    per-AOI NDVI series: key-co-partitioned pair self-join (quadratic
    only in series length), three key-cardinality hash aggs, shared
    variance/z formula strings. Oracle: identical pair join and
    quantile_cont median."""
    series = _ndvi_series(spark, sf_dir)
    return TEMPORAL.mann_kendall(series, key_cols=("aoi",),
                                 time_col="date_str",
                                 value_col="mean_ndvi")


def q_geo_emerging_hotspots(spark, sf_dir):
    """Emerging-hotspot analysis (ESRI space-time-cube style): Gi* per
    (date, cell) over the mean-NDVI raster, then Mann-Kendall + Sen's
    slope over each cell's z time series — which cells are becoming /
    ceasing to be hotspots. Pure composition of gstar_by_doc and
    mann_kendall; the z series entering MK is rounded 6 in BOTH engines
    so sign/tie comparisons quantize identically. Oracle: the composed
    SQL generators."""
    ndvi = ndvi_col()
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .select(F.date_format("acquisition_time", "yyyy-MM-dd")
                  .alias("date_str"),
                  F.floor(F.col("x") / 10).cast("long").alias("ix"),
                  F.floor(F.col("y") / 10).cast("long").alias("iy"),
                  ndvi.alias("v")))
    cells = (px.groupBy("date_str", "ix", "iy")
             .agg(F.round(F.sum("v") / F.count("v"), 6).alias("v")))
    pxf = cells.select(F.col("date_str").alias("doc_id"),
                       ((F.col("ix") + 0.5) * 10.0).alias("x"),
                       ((F.col("iy") + 0.5) * 10.0).alias("y"),
                       "v", F.lit(10.0).alias("gsd"))
    gz = SP.gstar_by_doc(pxf)
    return TEMPORAL.mann_kendall(
        gz.select("doc_id", "ix", "iy", "gi_z"),
        key_cols=("ix", "iy"), time_col="doc_id", value_col="gi_z")


def q_geo_variogram(spark, sf_dir):
    """Empirical semivariogram of DEM elevation (lag classes up to
    squared offset 8): constant offset explode + ONE co-partitioned
    grid equi-join + a lag-class-cardinality agg — never an all-pairs
    distance join. Oracle: identical offsets/join/reduction."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.variogram(dem)


def q_geo_harmonic_anomaly(spark, sf_dir):
    """Seasonal-anomaly scoring of the per-AOI NDVI series against its
    own harmonic fit (CCDC-style change detection): one fit agg +
    broadcast join back, one RMSE agg, codegen residual/flag. Oracle:
    composed from the same expression strings."""
    series = _ndvi_series(spark, sf_dir)
    return TEMPORAL.harmonic_anomaly(series, value_col="mean_ndvi")


def q_geo_flowacc(spark, sf_dir):
    """D8 flow accumulation (upstream contributing cells per DEM cell):
    Pregel-style fixpoint over the drainage forest — one co-partitioned
    join + hash agg per round, rounds bounded by the longest drainage
    path, 1-row agg early-stop. Oracle: recursive-CTE closure counted
    per destination. (No SQL-expressible single pass exists: the
    operator is inherently iterative, like PageRank/components.)"""
    dem = _geo(spark, sf_dir, "dem")
    return SP.flow_accumulation(dem, cell_m=CELL_SIZE_M)


def q_geo_twi(spark, sf_dir):
    """Topographic wetness index ln(acc·cell / tan β): the Horn
    gradients (one focal_conv pass) joined co-partitioned to the
    flow-accumulation fixpoint; flat cells NULL. Oracle: recursive
    closure + identical gradient/guard."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.wetness_index(dem, cell_m=CELL_SIZE_M)


def q_geo_lisa(spark, sf_dir):
    """Local Moran's I (LISA) cluster/outlier map of DEM elevation:
    broadcast moments + ONE focal_conv stencil pass + codegen quadrant
    typing on rounded z/lag. Oracle: identical stencil and
    classification."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.local_morans_i(SP.dem_pixels(dem, cell_m=CELL_SIZE_M))


def q_geo_contours(spark, sf_dir):
    """Marching-squares contour extraction of the DEM at the 295 m
    iso-level: 4-corner gather in one offset explode + hash agg, shared
    case-table/interpolation expression strings, center-mean saddle
    rule, 2-slot union off one lazily-checkpointed frame. Oracle: the
    same generated expressions."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.contour_segments(dem, threshold=295.0)


def q_events_interarrival(spark, sf_dir):
    """Inter-arrival burstiness per user (Goh-Barabási B, CV, moments):
    one key window for the lag + one key-cardinality agg. Oracle:
    identical lag/moments/guards."""
    ev = _events(spark, sf_dir).select("user_id", "ts")
    return TEMPORAL.interarrival_stats(ev)


def q_events_entropy(spark, sf_dir):
    """Behavioral diversity per user: Shannon entropy of the event-type
    mix (algebraic one-pass form ln N − Σ c·ln c / N), distinct types,
    top-type share — two map-side-combinable aggs. Oracle: identical
    algebra."""
    ev = _events(spark, sf_dir).select("user_id", "event_type")
    return TEMPORAL.event_entropy(ev)


def q_geo_resid_acf(spark, sf_dir):
    """Residual diagnostics for the seasonal fit: ACF (lags 1-3) of the
    per-AOI harmonic residuals — nonzero lag structure means the
    harmonic under-models the series (pure composition of
    harmonic_anomaly and acf; ISO date strings order chronologically in
    both engines). Oracle: acf_sql over harmonic_anomaly_sql."""
    series = _ndvi_series(spark, sf_dir)
    scored = TEMPORAL.harmonic_anomaly(series, value_col="mean_ndvi")
    return TEMPORAL.acf(scored.select("aoi", "date_str", "resid"),
                        key_cols=("aoi",), time_col="date_str",
                        value_col="resid")


def q_docs_mixture_weights(spark, sf_dir):
    """Temperature-based source-mixing weights per language (α = 0.7
    exponential smoothing, the multilingual upsampling rule): one
    group-cardinality agg + two broadcast 1-row joins, pure codegen.
    Oracle: identical smoothing and normalization."""
    return SAMP.mixture_weights(_documents(spark, sf_dir), alpha=0.7)


def q_docs_chunks(spark, sf_dir):
    """RAG-prep document chunking (32-token windows, 8-token overlap):
    split → sequence-of-starts explode → slice/join, all codegen array
    expressions, zero shuffles. Oracle: identical split/grid/slice."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    return TX.chunk_documents(docs, window=32, overlap=8)


def q_events_acf(spark, sf_dir):
    """Per-user autocorrelation of the event value series at lags 1-3
    (persistence/periodicity detector): broadcast mean join, one shared
    key window for every lag, one final hash agg. Oracle: identical
    window lags and reductions."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return TEMPORAL.acf(ev, key_cols=("user_id",))


def q_events_cusum(spark, sf_dir):
    """Two-sided standardized CUSUM drift alarms per user (Page's
    sequential test, k=0.5, h=4): moments agg → co-partitioned join →
    per-key ordered residual array → pure aggregate-fold scan. Oracle:
    identical fold via seed-lifted list_reduce."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return TEMPORAL.cusum_alarms(ev)


def q_geo_ndvi_sg(spark, sf_dir):
    """Savitzky–Golay smoothing of the per-AOI daily NDVI series
    (window 5, order 2 — the standard phenology denoiser): one key
    window, all taps share a single exchange, pure-codegen dot product.
    Oracle: identical taps and literal coefficients."""
    series = _ndvi_series(spark, sf_dir)
    return TEMPORAL.sg_smooth(series,
                              value_col="mean_ndvi",
                              out_col="ndvi_sg")


def q_events_funnel(spark, sf_dir):
    """Ordered funnel view → click → purchase with first-touch
    semantics: each step counts only strictly after the key's earliest
    completion of the previous one. Oracle: identical CTE chain."""
    from satellitetools_spark.operators.temporal import funnel
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    return funnel(ev, steps=["view", "click", "purchase"])


def q_geo_distance_join(spark, sf_dir):
    """Within-radius spatial pair join: inside-AOI pixels x DEM-cell
    station centers within 400 m. The station disc replicates to its
    bbox cells (constant fan-out) and broadcasts; the pixel side does
    one codegen cell computation + broadcast hash join — no cross
    product at any cardinality. Oracle: brute-force cross join with the
    identical exact predicate."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside").select("doc_id", "x", "y"))
    dem = _geo(spark, sf_dir, "dem")
    stations = dem.select(
        F.col("cell").alias("station_id"),
        ((F.pmod(F.col("cell"), F.lit(2 ** 32)) + 0.5) * CELL_SIZE_M)
        .alias("sx"),
        ((F.floor(F.col("cell") / F.lit(2 ** 32)) + 0.5) * CELL_SIZE_M)
        .alias("sy"))
    out = SP.distance_join(px, stations, radius=400.0)
    return out.select("doc_id", "x", "y", "station_id", "dist")


def q_events_retention(spark, sf_dir):
    """Weekly cohort retention matrix: (user, week) distinct reduction,
    MIN-week cohorting, integer week offsets. Oracle: identical
    cohorting in DuckDB."""
    from satellitetools_spark.operators.temporal import retention
    return retention(_events(spark, sf_dir))


def q_events_rollup(spark, sf_dir):
    """Native ROLLUP (day × event_type): all grouping levels in one
    Expand + single hash agg; NULL markers normalized to 'ALL'.
    Oracle: GROUP BY ROLLUP."""
    from satellitetools_spark.operators.temporal import rollup_counts
    return rollup_counts(_events(spark, sf_dir))


def _tbl(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _geo(spark, sf_dir, name):
    """A table of the synthetic geo dataset keyed to ``sf_dir``'s scale."""
    d = ensure_geodata(tag_for_sf_dir(sf_dir))
    return spark.read.parquet(os.path.join(d, f"{name}.parquet"))


def q_sales_topk(spark, sf_dir):
    """TPC-H Q3-shaped star join: customer (broadcast dim) ⋈ orders ⋈
    lineitem, filtered on segment + date BEFORE the joins (pushdown to
    the scans), revenue agg on the shuffle key the join already
    produced, top-10 via TakeOrderedAndProject. The canonical
    fact-to-fact relational plan the engine must not degrade."""
    cust = (_tbl(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (_tbl(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") < F.lit("1995-03-15"))
              .select("o_orderkey", "o_custkey", "o_orderdate",
                      "o_orderpriority"))
    li = (_tbl(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") > F.lit("1995-03-15"))
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    j = (orders.join(F.broadcast(cust),
                     orders.o_custkey == cust.c_custkey)
         .join(li, orders.o_orderkey == li.l_orderkey))
    out = (j.groupBy("o_orderkey",
                     F.col("o_orderdate").cast("string")
                     .alias("o_orderdate"), "o_orderpriority")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 4)
                .alias("revenue"))
           .orderBy(F.col("revenue").desc(), "o_orderkey").limit(10))
    return out


def q_fk_violations(spark, sf_dir):
    """Referential-integrity audit across the star schema: orphan
    counts per FK edge via LEFT ANTI joins (dims broadcast) — the
    ingest-gate companion of checks.expectations. One row per edge,
    zero counts prove integrity."""
    orders = _tbl(spark, sf_dir, "orders")
    li = _tbl(spark, sf_dir, "lineitem")
    edges = [
        ("orders.o_custkey->customer",
         orders.join(_tbl(spark, sf_dir, "customer"),
                     orders.o_custkey
                     == F.col("c_custkey"), "left_anti")),
        ("lineitem.l_orderkey->orders",
         li.join(orders, li.l_orderkey == orders.o_orderkey,
                 "left_anti")),
        ("lineitem.l_partkey->part",
         li.join(_tbl(spark, sf_dir, "part"),
                 li.l_partkey == F.col("p_partkey"), "left_anti")),
        ("lineitem.l_suppkey->supplier",
         li.join(_tbl(spark, sf_dir, "supplier"),
                 li.l_suppkey == F.col("s_suppkey"), "left_anti")),
        ("customer.c_nationkey->nation",
         _tbl(spark, sf_dir, "customer").join(
             _tbl(spark, sf_dir, "nation"),
             F.col("c_nationkey") == F.col("n_nationkey"),
             "left_anti")),
    ]
    out = None
    for name, anti in edges:
        row = anti.agg(F.count("*").alias("n_orphans")).select(
            F.lit(name).alias("fk_edge"), "n_orphans")
        out = row if out is None else out.unionByName(row)
    return out


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: ONE hash agg (map-side
    combined) computing six aggregates per (returnflag, linestatus) —
    the canonical scan-heavy aggregation whose plan must stay a single
    WholeStageCodegen scan→agg pipeline."""
    li = (_tbl(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") <= F.lit("1998-09-02")))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base"),
                 F.round(F.sum(disc), 4).alias("sum_disc_price"),
                 F.round(F.sum(disc * (1 + F.col("l_tax"))), 4)
                 .alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count("*").alias("count_order")))


def q_events_latest(spark, sf_dir):
    """Latest-record-per-key compaction (upsert resolution): one ranked
    window per user ordered by (ts DESC, event_id DESC) — the
    deterministic merge rule snapshot consumers need. At Iceberg scale
    this is the MERGE-compaction read path."""
    from pyspark.sql import Window
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id",
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("ts_str"), "event_type",
                    F.round("value", 6).alias("value")))


def q_events_kmv_daily(spark, sf_dir):
    """Per-day distinct-user KMV estimates (generic-key sketch, k=64)
    with exact counts alongside — daily-active-user sketching at
    groups × k state. Oracle: bit-identical."""
    ev = (_events(spark, sf_dir)
          .select(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                  .alias("day"), "user_id"))
    return SKETCH.kmv_distinct_keys(ev, group_col="day",
                                    key_col="user_id")


def q_events_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day (sweep-line over clipped
    session intervals; closed endpoints so back-to-back sessions
    overlap at the boundary). Oracle: identical chain."""
    from satellitetools_spark.operators.temporal import concurrency_daily
    ev = _events(spark, sf_dir).select("user_id", "ts")
    return concurrency_daily(ev)


def q_docs_pps_sample(spark, sf_dir):
    """Probability-proportional-to-size Poisson sample: keep prob
    min(1, n_chars/400) decided by pure BIGINT cross-multiply on the
    portable hash — deterministic, re-ingest stable, map-only codegen.
    include_prob enables Horvitz-Thompson reweighting downstream."""
    out = SAMP.pps_sample(
        _documents(spark, sf_dir).select("doc_id", "lang", "n_chars"),
        weight_col="n_chars", ref_weight=PPS_REF_CHARS)
    return out.select(
        "doc_id", "lang", "n_chars", "sample_bucket",
        F.round("include_prob", 9).alias("include_prob"))


def q_geo_focal_mean(spark, sf_dir):
    """Raster focal statistics: per-pixel 3x3 neighborhood NDVI mean
    within each scene, long-format (explode-aggregate-join on (doc, cell)
    — map-side combine keeps the shuffle at cell cardinality). Grid
    indices recovered exactly from pixel-center coordinates. Oracle: the
    same contribute/aggregate/join over the independent NumPy-oracle
    pixel table."""
    docs = _geo_docs(spark, sf_dir)
    px = decode_documents(docs, bands=["B4", "B8A"])
    px = compute_vegetation_index(px, "ndvi")
    out = SP.focal_stats(px, "ndvi")
    return out.select("doc_id", "ix", "iy", "n_neigh",
                      F.round("focal_mean", 6).alias("focal_ndvi"))


PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]
PROFILE_DTYPES = {"doc_id": "bigint", "text": "string", "lang": "string",
                  "source": "string", "n_chars": "bigint"}


def q_docs_profile(spark, sf_dir):
    """One-pass table profiler: per-column row/non-null/distinct counts,
    min/max, numeric means — one global agg + struct-explode unpivot
    (exact mode here; approx_count_distinct is the 100 TB path). Oracle:
    per-column UNION ALL aggregates."""
    docs = _documents(spark, sf_dir).select(*PROFILE_COLS)
    out = TX.profile(docs, exact=True)
    return out.select(
        "column", "dtype", "n_rows", "n_nonnull", "n_distinct",
        "min_s", "max_s", F.round("mean_num", 6).alias("mean_num"))


def _docs_expectation_suite():
    return [
        CHK.expect_min_rows(100),
        CHK.expect_not_null("doc_id"),
        CHK.expect_unique("doc_id"),
        CHK.expect_not_null("text"),
        CHK.expect_in_range("n_chars", 1.0, 20000.0),
        CHK.expect_matches("lang", "^[a-z][a-z]$", 0.9),
    ]


def q_docs_expectations(spark, sf_dir):
    """Deequ-style data-quality gate: a declarative constraint suite
    (row count, null/dup fractions, range violations, regex coverage)
    evaluated in ONE aggregation pass + struct-explode report. Oracle:
    per-constraint UNION ALL aggregates."""
    docs = _documents(spark, sf_dir)
    return CHK.expectations(docs, _docs_expectation_suite())


def q_docs_drift(spark, sf_dir):
    """Distribution-drift monitor: per-source language distribution vs
    the whole corpus — smoothed entropy, KL(slice||global), total
    variation. Two tiny keyed aggs + completed slice x category grid.
    Oracle: identical folds in DuckDB."""
    docs = _documents(spark, sf_dir)
    out = CHK.drift_metrics(docs, "source", "lang")
    return out.select(
        F.col("source"), "n_rows",
        F.round("entropy", 6).alias("entropy"),
        F.round("kl_vs_global", 6).alias("kl_vs_global"),
        F.round("tv_dist", 6).alias("tv_dist"))


def q_geo_cell_pyramid(spark, sf_dir):
    """Multi-resolution cell rollup: NDVI composited into 20/40/80/160 m
    planar cells across all scenes in ONE grouping-sets pass (constant
    4x level fanout, map-side combine → shuffle at cell cardinality).
    Oracle: per-level GROUP BY UNION ALL over the NumPy-oracle pixels."""
    docs = _geo_docs(spark, sf_dir)
    px = decode_documents(docs, bands=["B4", "B8A"])
    px = compute_vegetation_index(px, "ndvi")
    out = SP.cell_pyramid(px, "ndvi", levels=4)
    return out.select(
        "level", "cx", "cy", "n",
        F.round("sum_v", 6).alias("sum_ndvi"),
        F.round("min_v", 6).alias("min_ndvi"),
        F.round("max_v", 6).alias("max_ndvi"),
        F.round("mean_v", 6).alias("mean_ndvi"))


def q_geo_ts_incremental(spark, sf_dir):
    """Materialized-view maintenance: per-(aoi, date) NDVI stats built by
    MERGING mergeable partial state from two disjoint increments (split
    by doc-id hash), never re-aggregating raw history. The oracle is the
    ONE-SHOT full-table aggregate — value-equality proves
    merge(partial(A), partial(B)) == stats(A ∪ B)."""
    from satellitetools_spark.plans import incremental as INC
    docs = _geo_docs(spark, sf_dir)
    half_a = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    half_b = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    keys = ["aoi", "date_str"]

    def increment(d):
        px = decode_documents(d, bands=["B4", "B8A"])
        px = compute_vegetation_index(px, "ndvi")
        px = px.withColumn(
            "date_str", F.date_format("acquisition_time", "yyyy-MM-dd"))
        return INC.partial_stats(px, keys, "ndvi")

    state = INC.merge_stats(increment(half_a), increment(half_b), keys)
    out = INC.finalize_stats(state, keys)
    return out.select(
        "aoi", "date_str", "n",
        F.round("mean", 6).alias("mean_ndvi"),
        F.round("std", 6).alias("std_ndvi"),
        F.round("min", 6).alias("min_ndvi"),
        F.round("max", 6).alias("max_ndvi"))


def q_geo_gradient(spark, sf_dir):
    """Raster kernel correlation: Sobel x/y gradients of NDVI per scene,
    BOTH kernels in one explode+agg pass (shared stencil, no self-join,
    single decode), plus gradient magnitude. Oracle: VALUES stencil +
    contribute/aggregate over the NumPy-oracle pixels."""
    docs = _geo_docs(spark, sf_dir)
    px = decode_documents(docs, bands=["B4", "B8A"])
    px = compute_vegetation_index(px, "ndvi")
    out = SP.focal_conv(px, "ndvi",
                        {"gx": SP.SOBEL_GX, "gy": SP.SOBEL_GY})
    return out.select(
        "doc_id", "ix", "iy", "n_neigh",
        F.round("gx", 6).alias("gx"), F.round("gy", 6).alias("gy"),
        F.round(F.sqrt(F.col("gx") * F.col("gx")
                       + F.col("gy") * F.col("gy")), 6).alias("grad_mag"))


def q_events_pettitt(spark, sf_dir):
    """Pettitt change-point test per user (K = max|U_t|, break location,
    p ≈ 2·exp(−6K²/(n³+n²))): the O(n²)-per-candidate double sum
    telescoped to ONE key-co-partitioned pair join + a per-key prefix
    sum. Oracle: identical pair enumeration and the shared p-value
    expression string."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return TEMPORAL.pettitt(ev)


def q_events_seasonal(spark, sf_dir):
    """Classical additive decomposition of the per-type daily event
    count (period 7 — day-of-week profile): one key window (centered MA
    trend), phase means re-centered to zero, broadcast join-back.
    Oracle: identical frame/centering/join."""
    ev = _events(spark, sf_dir)
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count("*").cast("double").alias("v")))
    return TEMPORAL.seasonal_decompose(daily, period=7)


def q_events_ccf(spark, sf_dir):
    """Cross-correlation between the hourly click and purchase count
    series at lags −3..3 (does buying follow clicking, and by how many
    hours?): one mean agg broadcast back, every lag AND lead from one
    window, one final agg. Oracle: identical shifts and reductions."""
    ev = _events(spark, sf_dir)
    hourly = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("t"))
              .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                         .otherwise(0)).cast("double").alias("va"),
                   F.sum(F.when(F.col("event_type") == "purchase", 1)
                         .otherwise(0)).cast("double").alias("vb"))
              .withColumn("k", F.lit("all")))
    return TEMPORAL.ccf(hourly, key_cols=("k",))


def q_events_trigrams(spark, sf_dir):
    """Top-10 event-type trigrams across all user journeys (third-order
    path mining): one key window for two lags, a hash agg at ≤|types|³
    cardinality, rank over that tiny table only. Oracle: identical
    lags/concat/tie order."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    return TEMPORAL.event_trigrams(ev)


def q_geo_terrain_idx(spark, sf_dir):
    """TPI / TRI / roughness per DEM cell (morphometry trio): constant
    8× sender explode + ONE co-partitioned grid equi-join + per-cell
    hash agg — no raster self-join, no window. Oracle: identical
    decode/send/reductions."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.terrain_indices(dem)


def q_geo_ripley_k(spark, sf_dir):
    """Ripley's K / L for the high-NDVI (>0.6) pixel pattern per doc —
    clustered vs dispersed beyond chance: 3×3 bucket probe (constant
    9× fan-out), one (doc, bucket) equi-join, lexicographic unordered
    dedup, ALL radii in one agg. Oracle: brute-force per-doc self-join
    — an independent algorithm that also pins bucketing completeness."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .withColumn("ndvi", (F.col("B8") - F.col("B4"))
                      / (F.col("B8") + F.col("B4")))
          .filter("ndvi > 0.6").select("doc_id", "x", "y"))
    return SP.ripley_k(px)


def q_orders_benford(spark, sf_dir):
    """Benford first-digit audit of order totals (fraud / unit-mixing
    screen): one hash agg at ≤9-digit cardinality + a window over that
    9-row table for the chi-square. Oracle: identical digit expression
    and folds."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return CHK.benford(orders, "o_totalprice")


def q_docs_spearman(spark, sf_dir):
    """Spearman rank correlation between document length and word count
    per language (monotone-association data-quality check): midranks
    from two window primitives (no rank-then-average pass), Pearson
    moment formula on the ranks, one final agg. Oracle: identical
    midrank construction."""
    docs = _documents(spark, sf_dir)
    d2 = docs.select("lang", F.col("n_chars").cast("double").alias("a"),
                     F.size(F.split("text", " ")).cast("double")
                     .alias("b"))
    return CHK.spearman_corr(d2, ("lang",), "a", "b")


def q_events_seasonal_mk(spark, sf_dir):
    """Hirsch-Slack seasonal Mann-Kendall per user (day-of-week
    seasons): MK's S and tie-corrected Var summed within seasons, the
    seasonal Sen slope — pair join keyed on (user, season), all
    reductions key-cardinality hash aggs. Oracle: identical machinery
    with a dialect-equivalent season expression."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return TEMPORAL.seasonal_mann_kendall(
        ev,
        season_expr="pmod(datediff(CAST(ts AS DATE),"
                    " DATE '1970-01-01'), 7)")


def q_geo_clark_evans(spark, sf_dir):
    """Clark-Evans nearest-neighbor index for the high-NDVI pixel
    pattern per doc (R < 1 clustered): same 9× bucket probe as
    Ripley's K, min-d² agg per point, key-cardinality readout. Oracle:
    brute-force per-doc NN — an independent algorithm."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .withColumn("ndvi", (F.col("B8") - F.col("B4"))
                      / (F.col("B8") + F.col("B4")))
          .filter("ndvi > 0.6").select("doc_id", "x", "y"))
    return SP.clark_evans(px)


def q_geo_kde(spark, sf_dir):
    """Gaussian KDE hotspot surface (h = 40 m, 3σ cutoff) over the
    high-NDVI pattern, evaluated at occupied grid cells: constant 3×3
    cutoff-bucket replication + ONE equi-join + cell-cardinality agg;
    density normalizes the ROUNDED kernel sum so both engines divide
    the identical double. Oracle: brute-force cells × points."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .withColumn("ndvi", (F.col("B8") - F.col("B4"))
                      / (F.col("B8") + F.col("B4")))
          .filter("ndvi > 0.6").select("doc_id", "x", "y"))
    return SP.kde_grid(px)


def q_geo_knox(spark, sf_dir):
    """Knox space-time interaction over the high-NDVI pixel pattern per
    AOI (d ≤ 60 m AND |Δt| ≤ 10 d pairs vs the independence expectation
    Ns·Nt/T): T from arithmetic, Nt from the per-date histogram join,
    Ns/X from ONE bucketed spatial join. Oracle: brute-force all-pairs
    — a fully independent algorithm."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .withColumn("ndvi", (F.col("B8") - F.col("B4"))
                      / (F.col("B8") + F.col("B4")))
          .filter("ndvi > 0.6")
          .select("aoi", "x", "y",
                  F.expr("CAST(datediff(CAST(acquisition_time AS DATE),"
                         " DATE '1970-01-01') AS DOUBLE)").alias("td"))
          .distinct())
    return SP.knox_test(px)


def q_docs_zipf(spark, sf_dir):
    """Zipf rank-frequency OLS fit per language over the top-200 types
    (corpus-health check — natural text sits near slope −1): tokenize
    hash agg, ONE group window over the aggregated vocab only, moment-
    form OLS. Oracle: identical rank cut and expression strings."""
    return TX.zipf_fit(_documents(spark, sf_dir))


def q_events_ab(spark, sf_dir):
    """Two-proportion A/B z-test (variant = user_id parity, success =
    any purchase): unit-cardinality collapse, variant fold, 1-row
    pooled-z readout. Oracle: identical folds with a dialect-equivalent
    variant expression."""
    ev = _events(spark, sf_dir)
    return CHK.ab_ztest(ev)


def q_geo_regions(spark, sf_dir):
    """Connected-component labeling of the high-NDVI mask per doc
    (4-connectivity, min-reachable-id labels): Pregel min-label
    propagation — one 4-neighbor equi-join + min agg per round,
    diameter-bounded, Σlabel early-stop. Oracle: recursive reachability
    closure — an independent (transitive-closure) algorithm."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .withColumn("ndvi", (F.col("B8") - F.col("B4"))
                      / (F.col("B8") + F.col("B4")))
          .filter("ndvi > 0.6")
          .select("doc_id",
                  F.floor(F.col("x") / 20.0).cast("long").alias("ix"),
                  F.floor(F.col("y") / 20.0).cast("long").alias("iy")))
    return SP.region_label(px)


def q_geo_variogram_dir(spark, sf_dir):
    """Directional (anisotropic) semivariogram of DEM elevation — the
    variogram reduction split by offset orientation (EW/NS/NE/NW), same
    single co-partitioned grid join. Oracle: identical tagged offsets."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.variogram_directional(dem)


def q_geo_stretch(spark, sf_dir):
    """Percentile normalization + min-max stretch of B8 per doc (the
    cross-scene contrast equalizer): ONE key window for percent_rank,
    extremes from a broadcast key agg. Oracle: identical window and
    stretch."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .select("doc_id", "x", "y", F.col("B8").alias("v")))
    return SP.percentile_stretch(px)


def q_geo_idw(spark, sf_dir):
    """Inverse-distance-weighted elevation surface at every pixel from
    the DEM-cell stations within 480 m (the sparse-sensor gridding
    step): bbox-cell candidate join (broadcast, zero point-cardinality
    shuffles) + ONE map-side-combinable hash agg per point. Oracle:
    brute-force cross join with the identical weight formula — an
    independent candidate algorithm."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside").select("doc_id", "x", "y"))
    dem = _geo(spark, sf_dir, "dem")
    stations = dem.select(
        F.col("cell").alias("station_id"),
        ((F.pmod(F.col("cell"), F.lit(2 ** 32)) + 0.5) * CELL_SIZE_M)
        .alias("sx"),
        ((F.floor(F.col("cell") / F.lit(2 ** 32)) + 0.5) * CELL_SIZE_M)
        .alias("sy"),
        "elevation")
    return SP.idw_grid(px, stations, radius=3 * CELL_SIZE_M,
                       value_col="elevation")


def q_geo_gwr(spark, sf_dir):
    """Geographically weighted regression of per-cell mean NDVI on DEM
    elevation (where does greenness respond to terrain, and how
    strongly): pixels collapse to the 160 m DEM grid with one hash agg,
    then the variogram-shaped constant-offset explode + ONE
    co-partitioned grid join + closed-form weighted-moment readout.
    Oracle: identical literal weight table and moment folds."""
    dem = _geo(spark, sf_dir, "dem")
    demg = dem.select(
        F.pmod(F.col("cell"), F.lit(2 ** 32)).cast("long").alias("ix"),
        F.floor(F.col("cell") / F.lit(2 ** 32)).cast("long").alias("iy"),
        "elevation")
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside"))
    ndvi_cell = (px.groupBy(
        F.floor(F.col("x") / CELL_SIZE_M).cast("long").alias("ix"),
        F.floor(F.col("y") / CELL_SIZE_M).cast("long").alias("iy"))
        .agg(F.avg((F.col("B8") - F.col("B4"))
                   / (F.col("B8") + F.col("B4"))).alias("mean_ndvi")))
    cells = demg.join(ndvi_cell, ["ix", "iy"])
    return SP.local_regression(cells, "elevation", "mean_ndvi")


def q_geo_geary(spark, sf_dir):
    """Global Geary's C of DEM elevation under queen contiguity (the
    pair-difference autocorrelation twin of Moran's I): mean broadcast,
    8× queen explode + ONE grid equi-join, two 1-row reductions.
    Oracle: identical offsets, join, and readout."""
    dem = _geo(spark, sf_dir, "dem")
    return SP.geary_c(SP.dem_pixels(dem, cell_m=CELL_SIZE_M))


def q_geo_join_counts(spark, sf_dir):
    """Join-count statistics of the per-doc high-NDVI mask (BB/WW/BW
    ordered neighbor pairs vs free-sampling expectations — does the
    green class clump?): 8× queen explode + ONE co-partitioned grid
    join, key-cardinality aggs. Oracle: identical offsets and
    expectation formulas."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside"))
    scenes = (_geo(spark, sf_dir, "scenes")
              .select("doc_id", "target_gsd"))
    mask = (px.join(scenes, "doc_id")
            .select("doc_id",
                    F.floor(F.col("x") / F.col("target_gsd")).cast("long")
                    .alias("ix"),
                    F.floor(F.col("y") / F.col("target_gsd")).cast("long")
                    .alias("iy"),
                    ((F.col("B8") - F.col("B4"))
                     / (F.col("B8") + F.col("B4")) > 0.6).alias("green")))
    return SP.join_counts(mask, "green")


def q_geo_dbscan(spark, sf_dir):
    """Deterministic grid DBSCAN of the per-doc high-NDVI mask
    (min_pts=4, eps=one queen step): density count via ONE queen-offset
    grid join, Pregel min-label components over CORES only, borders by
    min adjacent core label, noise NULL (-1 in this readout so the hash
    never sees a nullable int). Oracle: identical density rule with the
    recursive-closure labeling — an independent algorithm."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .withColumn("ndvi", (F.col("B8") - F.col("B4"))
                      / (F.col("B8") + F.col("B4")))
          .filter("ndvi > 0.6")
          .select("doc_id",
                  F.floor(F.col("x") / 20.0).cast("long").alias("ix"),
                  F.floor(F.col("y") / 20.0).cast("long").alias("iy")))
    out = SP.grid_dbscan(px, min_pts=4)
    return out.select("doc_id", "ix", "iy", "n_in_neigh",
                      F.coalesce("label", F.lit(-1)).alias("label"),
                      "role")


def q_geo_shadow(spark, sf_dir):
    """Cloud-shadow candidate projection (along the anti-solar
    azimuth from per-scene sun angles at h=100 m, displacements rounded before the
    grid snap): broadcast meta join, map-only cell shift, one (doc,
    cell) equi-join; receivers include cloud pixels (exclude_sources
    =False) since the synthetic mask is all-or-nothing per scene.
    Oracle: identical displacement and join."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside").select("doc_id", "x", "y", "SCL"))
    scenes = _geo(spark, sf_dir, "scenes")
    return SP.shadow_project(px, scenes, height_m=100.0,
                             exclude_sources=False)


def q_events_holt(spark, sf_dir):
    """Holt double exponential smoothing per user (α=0.3, β=0.1, h=7):
    one hash agg collects the time-ordered series, the recurrence runs
    as a codegen aggregate fold. Oracle: identical recurrence as a
    recursive CTE — an independent evaluation strategy."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return TEMPORAL.holt_smooth(ev)


def q_geo_view_circular(spark, sf_dir):
    """Circular statistics of the per-detector view azimuths per scene
    (the CORRECT mean for angles — arithmetic means break at the 0/360
    wrap): explode the detector array, ONE mergeable hash agg of
    (n, Σcos, Σsin), atan2 readout. Oracle: identical sums."""
    scenes = _geo(spark, sf_dir, "scenes")
    det = scenes.select(
        "doc_id", F.explode("view_azimuth_detectors").alias("az"))
    return CHK.circular_stats(det, "az")


def q_geo_hexbin(spark, sf_dir):
    """Hexagonal NDVI binning per doc (pointy-top axial grid, 40 m
    circumradius, cube rounding): map-only q/r chain + ONE hash agg at
    hex cardinality. Oracle: identical constants and rounding chain."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .withColumn("ndvi", (F.col("B8") - F.col("B4"))
                      / (F.col("B8") + F.col("B4"))))
    return SP.hexbin(px, "ndvi", size_m=40.0)


def q_orders_rfm(spark, sf_dir):
    """RFM quartile segmentation of customers: one hash agg at
    customer cardinality (DECIMAL-exact monetary), three deterministic
    NTILE windows (custkey tie-break). Oracle: identical agg and
    window orderings."""
    from satellitetools_spark.operators import segment as SEG
    return SEG.rfm_segments(_tbl(spark, sf_dir, "orders"), n_tiles=4)


def q_lineitem_gini(spark, sf_dir):
    """Revenue-concentration readout (Gini + top-decile share) over
    per-supplier DECIMAL-exact totals: the window sorts only the
    aggregated key table, never the fact rows. Oracle: identical
    closed form over identical exact decimals."""
    from satellitetools_spark.operators import segment as SEG
    return SEG.gini_concentration(_tbl(spark, sf_dir, "lineitem"))


def q_orders_basket(spark, sf_dir):
    """Market-basket pair lift: distinct (order, part) self-equi-join
    on the order key (bounded basket fan-out, never cartesian),
    integer-exact counts, broadcast marginals. Oracle: identical
    chain."""
    from satellitetools_spark.operators import segment as SEG
    return SEG.basket_pairs(_tbl(spark, sf_dir, "lineitem"),
                            min_support=3)


def q_events_km(spark, sf_dir):
    """Kaplan–Meier survival over per-user lifetimes (7-day right
    censoring at the stream edge): entity agg → duration agg →
    suffix/prefix windows over the tiny duration table; the product is
    exp-of-sum-of-logs with an explicit zero ledger. Oracle: identical
    chain."""
    return TEMPORAL.kaplan_meier(_events(spark, sf_dir))


def q_events_runs(spark, sf_dir):
    """Wald–Wolfowitz runs test per event type (above/below exact
    median, equal-to-median drops): one median agg + one key window +
    one readout agg. Oracle: identical moments."""
    return TEMPORAL.runs_test(_events(spark, sf_dir),
                              key_cols=("event_type",))


def q_events_mad(spark, sf_dir):
    """Modified-z (MAD) robust outliers per event type at |rz| > 3.5:
    two exact-median aggs broadcast back — the fact rows never
    shuffle. Oracle: identical two-stage median chain."""
    return TEMPORAL.mad_anomaly(_events(spark, sf_dir),
                                key_cols=("event_type",))


def q_emb_silhouette(spark, sf_dir):
    """Simplified (centroid-based) per-vector silhouette against the
    label clustering — O(n·k) not O(n²): broadcast centroids, map-only
    k-fanout distance, one conditional min-agg. Oracle: relational
    long-form twin."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return SIM.label_silhouette(emb)


def q_emb_validity(spark, sf_dir):
    """Calinski–Harabasz variance-ratio index of the label clustering:
    all reductions pass through the (label, pos) centroid table; the
    only row-cardinality pass is map-side against broadcast centroids.
    Oracle: identical SS sums."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return SIM.cluster_validity(emb)


def q_docs_dice_pairs(spark, sf_dir):
    """Sørensen–Dice + subset-containment near-dup pairs over the same
    shingle sets as the Jaccard baseline (containment catches a doc
    embedded in a larger one, which Jaccard misses). Oracle: identical
    exact set algebra."""
    return D.dice_pairs(_documents(spark, sf_dir), n=JACCARD_N,
                        threshold=0.5)


def q_docs_readability(spark, sf_dir):
    """Flesch reading-ease heuristic (regexp word/sentence/vowel-group
    counters, floored denominators): map-only codegen, zero shuffles.
    Oracle: identical counters in RE2."""
    return TX.readability(_documents(spark, sf_dir))


def q_geo_landform(spark, sf_dir):
    """Weiss two-scale TPI landform classes of the per-scene NDVI
    surface (±1σ sign grid, per-doc standardization): two focal_stats
    passes, one cell equi-join, key-cardinality moments broadcast
    back. Oracle: identical stencils and CASE ladder."""
    scenes = (_geo(spark, sf_dir, "scenes")
              .select("doc_id", F.col("target_gsd").alias("gsd")))
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .join(F.broadcast(scenes), "doc_id")
          .select("doc_id", "x", "y", "gsd",
                  ((F.col("B8") - F.col("B4"))
                   / (F.col("B8") + F.col("B4"))).alias("v")))
    return SP.tpi_landform(px, r_large=3)


def _high_ndvi_cells(spark, sf_dir):
    return (_geo(spark, sf_dir, "oracle_pixels")
            .filter("inside")
            .withColumn("ndvi", (F.col("B8") - F.col("B4"))
                        / (F.col("B8") + F.col("B4")))
            .filter("ndvi > 0.6")
            .select("doc_id",
                    F.floor(F.col("x") / 20.0).cast("long").alias("ix"),
                    F.floor(F.col("y") / 20.0).cast("long").alias("iy")))


def q_geo_patches(spark, sf_dir):
    """Landscape-fragmentation metrics (patch count/size/LPI,
    4-perimeter, edge density) over the labeled high-NDVI mask —
    region_label composed with ONE patch agg + ONE co-partitioned
    4-neighbor self-join. Oracle: recursive-closure labels feeding the
    identical adjacency algebra."""
    lab = SP.region_label(_high_ndvi_cells(spark, sf_dir))
    return SP.patch_stats(lab)


def q_geo_change(spark, sf_dir):
    """Bitemporal NDVI change per (aoi, cell) across the full scene
    stack: lexicographic struct min/max in ONE hash agg (no window, no
    self-join), gain/loss/stable at ±0.05. Oracle: independent
    ROW_NUMBER first/last formulation."""
    scenes = (_geo(spark, sf_dir, "scenes")
              .select("doc_id", F.col("target_gsd").alias("gsd")))
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .join(F.broadcast(scenes), "doc_id")
          .select("aoi", "x", "y", "gsd",
                  F.col("acquisition_time").alias("t"),
                  ((F.col("B8") - F.col("B4"))
                   / (F.col("B8") + F.col("B4"))).alias("v")))
    return SP.change_detection(px)


def q_events_markov_entropy(spark, sf_dir):
    """Per-state outgoing entropy + stationary weight of the behavior
    Markov chain (the entropy-rate terms): transition_counts composed
    with a type²-cardinality reduction. Oracle: identical lag pairs
    and entropy sum."""
    return TEMPORAL.markov_entropy(_events(spark, sf_dir))


def q_events_hurst(spark, sf_dir):
    """Hurst exponent per event type by the aggregated-variance method
    (dyadic block means 1/2/4/8, ln-ln OLS slope → H = 1 + s/2): one
    ranked window, constant explode, shrinking agg ladder. Oracle:
    identical closed-form OLS."""
    return TEMPORAL.hurst_exponent(_events(spark, sf_dir))


def q_docs_lexdiv(spark, sf_dir):
    """Lexical-diversity profile (tokens, types, TTR, hapax fraction)
    per document: explode → per-token agg → doc rollup, all
    integer-exact. Oracle: identical chain."""
    return TX.lexical_diversity(_documents(spark, sf_dir))


def q_orders_cohort(spark, sf_dir):
    """Cohort LTV matrix (first-order month × month offset): integer
    month algebra, DECIMAL-exact revenue, one co-partitioned
    customer-key join. Oracle: identical algebra."""
    return SEG.cohort_revenue(_tbl(spark, sf_dir, "orders"))


def q_emb_mmr(spark, sf_dir):
    """Maximal Marginal Relevance top-5 (λ=0.7, pool 50): candidate
    pool checkpointed once, k−1 unrolled argmax layers with broadcast
    selected vectors, zero collects; all comparisons on round-6 scores.
    Oracle: identical greedy unrolled layers."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return SIM.mmr_select(emb, query_id=7, k=5, lam=0.7, pool=50)


def q_events_peaks(spark, sf_dir):
    """Local-maximum peaks per event type (strict both-neighbor
    exceedance ≥ 0.5): one key window, map-only predicate, no
    arithmetic beyond a subtraction. Oracle: identical lag/lead."""
    return TEMPORAL.peak_detect(_events(spark, sf_dir),
                                min_delta=0.5)


def _aoi_extreme_raster(spark, sf_dir, which: str):
    scenes = (_geo(spark, sf_dir, "scenes")
              .select("doc_id", F.col("target_gsd").alias("gsd")))
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside")
          .join(F.broadcast(scenes), "doc_id")
          .select("aoi",
                  F.floor(F.col("x") / F.col("gsd")).cast("long")
                  .alias("ix"),
                  F.floor(F.col("y") / F.col("gsd")).cast("long")
                  .alias("iy"),
                  F.col("acquisition_time").alias("t"),
                  ((F.col("B8") - F.col("B4"))
                   / (F.col("B8") + F.col("B4"))).alias("v")))
    fn = F.min if which == "first" else F.max
    ext = px.groupBy("aoi").agg(fn("t").alias("_te"))
    return (px.join(F.broadcast(ext), "aoi")
            .filter(F.col("t") == F.col("_te"))
            .select("aoi", "ix", "iy", "v"))


def q_geo_xcorr(spark, sf_dir):
    """Co-registration cross-correlation of each AOI's first vs last
    NDVI raster over a ±2-cell offset lattice: constant explode, one
    co-partitioned cell equi-join, Pearson sums at key × offset
    cardinality, round-6 argmax. Oracle: identical lattice."""
    a = _aoi_extreme_raster(spark, sf_dir, "first")
    b = _aoi_extreme_raster(spark, sf_dir, "last")
    return SP.raster_xcorr(a, b, max_offset=2, min_overlap=16)


def q_sales_hits(spark, sf_dir):
    """HITS hubs/authorities on the bipartite customer→part purchase
    graph (4 unrolled L1-normalized rounds): per half-step one
    edge⋈vector join + keyed sum; score vectors node-cardinality.
    Oracle: identical unrolled layers."""
    from satellitetools_spark.operators import graph as GRH
    orders = _tbl(spark, sf_dir, "orders").select("o_orderkey",
                                                  "o_custkey")
    li = _tbl(spark, sf_dir, "lineitem").select("l_orderkey",
                                                "l_partkey")
    edges = (orders.join(li, orders.o_orderkey == li.l_orderkey)
             .select(F.col("o_custkey").alias("src"),
                     F.col("l_partkey").alias("dst")))
    return GRH.hits(edges, iters=4)


def q_docs_chi2(spark, sf_dir):
    """Pearson χ² independence of source × language (full contingency
    grid incl. zero cells) + Cramér's V: everything post-agg is
    alphabet-sized. Oracle: identical grid algebra."""
    return CHK.chi_square_independence(_documents(spark, sf_dir),
                                       "source", "lang")


def q_lineitem_abc(spark, sf_dir):
    """ABC/Pareto classification of parts by DECIMAL-exact revenue
    with cumulative-share cuts at 0.8/0.95: the window sorts only the
    aggregated key table. Oracle: identical window + boundaries."""
    return SEG.abc_analysis(_tbl(spark, sf_dir, "lineitem"))


def q_docs_term_dispersion(spark, sf_dir):
    """Term burstiness (variance-to-mean ratio of per-doc counts,
    corpus-wide moments incl. zero-count docs): top-50 over DF ≥ 5.
    Oracle: identical moments and ranked cut."""
    return TX.term_dispersion(_documents(spark, sf_dir), min_df=5,
                              top_k=50)


def q_events_backtest(spark, sf_dir):
    """Naive vs seasonal-naive one-step backtest (MAE/RMSE on common
    support) per event type: one shared key window, one agg. Oracle:
    identical lags."""
    return TEMPORAL.forecast_backtest(_events(spark, sf_dir),
                                      season=7)


def q_geo_sieve(spark, sf_dir):
    """Sieve filter over the high-NDVI mask (drop patches < 4 cells):
    region_label fixpoint + one size semi-join; output keeps labels.
    Oracle: closure labels + identical semi-join."""
    return SP.sieve_filter(_high_ndvi_cells(spark, sf_dir))


def q_events_strength(spark, sf_dir):
    """Hyndman seasonality/trend strength of the per-type daily count
    series (period 7), composed over the classical decomposition's
    round-6 components. Oracle: identical decomposition CTE +
    variance readout."""
    ev = _events(spark, sf_dir)
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count("*").cast("double").alias("v")))
    return TEMPORAL.seasonality_strength(daily,
                                         period=7)


def q_emb_outliers(spark, sf_dir):
    """Mislabel candidates: per-label z-score outliers of the distance
    to the own-label centroid (z > 2), thresholded on round-6 inputs.
    Oracle: silhouette CTE + identical moments."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return SIM.label_outliers(emb)


def q_events_welch(spark, sf_dir):
    """Welch's unequal-variance t-test on event value between the two
    deterministic user-id halves: one hash agg to two moment triples +
    a 1-row readout. Oracle: identical Welch-Satterthwaite algebra."""
    return INF.welch_ttest(_events(spark, sf_dir), "pmod(user_id, 2)",
                           "value")


def q_events_anova(spark, sf_dir):
    """One-way ANOVA F of event value across event types (k groups):
    one group-moment agg + a 1-row SSB/SSW fold. Oracle: identical
    decomposition."""
    return INF.anova_f(_events(spark, sf_dir), "event_type", "value")


def q_docs_mwu(spark, sf_dir):
    """Mann-Whitney U on document length, English vs the rest —
    midranks derived from the distinct-value histogram (never a raw-row
    sort), tie-corrected z from a shared formula string. Oracle:
    identical histogram + the same expression text."""
    return INF.mann_whitney_u(_documents(spark, sf_dir),
                              "CAST(lang = 'en' AS INT)", "n_chars")


def q_docs_kruskal(spark, sf_dir):
    """Kruskal-Wallis H of document length across languages: the same
    distinct-value midrank scaffold as MW-U, per-group rank sums from
    the (value, group) histogram. Oracle: identical construction."""
    return INF.kruskal_wallis(_documents(spark, sf_dir), "lang",
                              "n_chars")


def q_events_ks(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov on event value between the user-id
    halves: exact D from the distinct-value CDF table, one-term
    asymptotic p. Oracle: identical cumulative construction."""
    return INF.ks_test(_events(spark, sf_dir), "pmod(user_id, 2)",
                       "value")


def q_events_psi(spark, sf_dir):
    """Population Stability Index of event value, first half-month
    (expected) vs second (actual): fixed bins + Laplace smoothing,
    per-bin attribution + total. Oracle: identical binning and folds."""
    return INF.psi(_events(spark, sf_dir),
                   "CAST(ts >= TIMESTAMP '2024-01-16' AS INT)",
                   "value", 0.0, 200.0, n_bins=10)


# Shared deterministic classifier score for the model-eval family: a
# hash-uniform in [0,1) blended 30% with the label (lang='en'), so the
# ROC/calibration/gains readouts are non-degenerate. Pure 64-bit-safe
# integer arithmetic — the identical text evaluates in both engines.
_SCORE_EXPR = ("(((doc_id * 1103515245 + 12345) % 1000) / 1000.0 * 0.7"
               " + 0.3 * CAST(lang = 'en' AS INT))")
_LABEL_EXPR = "CAST(lang = 'en' AS INT)"


def q_docs_roc_auc(spark, sf_dir):
    """ROC-AUC + Gini of the deterministic score against the lang='en'
    label via the Mann-Whitney midrank identity — distinct-score
    histogram, never a raw-row sort. Oracle: identical construction."""
    return ME.roc_auc(_documents(spark, sf_dir), _LABEL_EXPR, _SCORE_EXPR)


def q_docs_calibration(spark, sf_dir):
    """Reliability-diagram bins (10 over [0,1]): per-bin confidence vs
    accuracy and the signed gap. Oracle: identical fixed binning."""
    return ME.calibration_bins(_documents(spark, sf_dir), _LABEL_EXPR,
                               _SCORE_EXPR, 0.0)


def q_docs_brier(spark, sf_dir):
    """Exact Brier score + binned Murphy decomposition
    (reliability/resolution/uncertainty) + ECE/MCE in one row.
    Oracle: identical two-stage aggregation."""
    return ME.brier_decomposition(_documents(spark, sf_dir), _LABEL_EXPR,
                                  _SCORE_EXPR, 0.0)


def q_docs_gains(spark, sf_dir):
    """Cumulative gains / lift by score decile, deciles drawn on the
    distinct-score histogram (tie groups never straddle a boundary).
    Oracle: identical histogram-decile construction."""
    return ME.cumulative_gains(_documents(spark, sf_dir), _LABEL_EXPR,
                               _SCORE_EXPR)


def q_docs_mi(spark, sf_dir):
    """Mutual information + entropies + NMI between lang and source —
    one joint-histogram agg, marginals by windows over the cell table.
    Oracle: identical algebra."""
    return ME.mutual_information(_documents(spark, sf_dir), "lang",
                                 "source")


def q_docs_cramers_v(spark, sf_dir):
    """Cramér's V effect size for the lang×source association (χ² is in
    the same row for reference). Oracle: identical joint-histogram χ²."""
    return ME.cramers_v(_documents(spark, sf_dir), "lang", "source")


def q_events_jsd(spark, sf_dir):
    """Jensen-Shannon divergence of the event-type mix, first vs second
    half-month — the smoothing-free drift readout. Oracle: identical
    mixture construction."""
    return ME.js_divergence(
        _events(spark, sf_dir),
        "CAST(ts >= TIMESTAMP '2024-01-16' AS INT)", "event_type")


def q_docs_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR over per-language vs-rest Welch t-tests on
    document length: screening p-values from one group-moment agg (the
    shared A&S erf polynomial), then the step-up adjustment over the
    k-row test table. Oracle: identical two-stage SQL."""
    return ME.bh_adjust(
        ME.group_vs_rest_ttest(_documents(spark, sf_dir), "lang",
                               "n_chars"),
        key_col="lang", p_col="p_approx")


def q_events_bootstrap(spark, sf_dir):
    """One-pass deterministic Poisson bootstrap (B=64) CI for the mean
    event value: per-(event_id, replicate) Poisson(1) weights from a
    portable modular hash, map-side-combined to 64 replicate rows.
    Oracle: identical hash → weight → fold pipeline."""
    return ME.poisson_bootstrap_mean(_events(spark, sf_dir), "value",
                                     "event_id", n_boot=64)


# Shared expressions for the second model-eval batch. The pseudo-
# annotator agrees with lang on 80% of docs (keyed on doc_id) and says
# source otherwise; the regression "model" for conformal is value scaled
# + a deterministic hash offset so residuals have a nontrivial spread.
_ANNOT_EXPR = "CASE WHEN doc_id % 10 < 8 THEN lang ELSE source END"
_PRED_EXPR = "(0.9 * value + ((event_id * 48271) % 100) / 10.0 - 5.0)"


def q_events_wilcoxon(spark, sf_dir):
    """Wilcoxon signed-rank on the paired (pseudo-model, value)
    differences — midranks from the distinct-|d| histogram, tie-
    corrected z, shared erf-polynomial p. Oracle: identical scaffold."""
    return INF.wilcoxon_signed_rank(_events(spark, sf_dir), _PRED_EXPR,
                                    "value")


def q_docs_hosmer_lemeshow(spark, sf_dir):
    """Hosmer-Lemeshow calibration chi2 over the shared score's fixed
    bins — O vs E with degenerate bins excluded and counted. Oracle:
    identical binning and fold."""
    return ME.hosmer_lemeshow(_documents(spark, sf_dir), _LABEL_EXPR,
                              _SCORE_EXPR, 0.0, 1.0)


def q_events_cuped(spark, sf_dir):
    """CUPED variance-reduced difference-in-means between the user-id
    halves, with a deterministic correlated covariate standing in for
    the pre-period metric: one joint-moment agg + a 1-row fold.
    Oracle: identical moment algebra."""
    return INF.cuped(_events(spark, sf_dir), "pmod(user_id, 2)",
                     "value",
                     "(0.8 * value + ((event_id * 69621) % 199) - 99)")


def q_geo_span_profile(spark, sf_dir):
    """Interleaving profile of the span-sequence documents: per-doc
    kind counts, text payload, media fraction, kind transitions, and
    boundary kinds — every statistic a higher-order-function fold over
    the spans ARRAY in place (map-only, no explode, no shuffle).
    Oracle: identical DuckDB list-lambda folds."""
    from satellitetools_spark.sources.docs import span_profile
    return span_profile(_geo_docs(spark, sf_dir))


def q_docs_mcnemar(spark, sf_dir):
    """McNemar's paired test between two thresholdings of the shared
    score (0.5 vs 0.55) — discordant-cell chi2 + erf-polynomial p.
    Oracle: identical conditional agg."""
    return ME.mcnemar(_documents(spark, sf_dir),
                      f"CAST({_SCORE_EXPR} >= 0.5 AS INT)",
                      f"CAST({_SCORE_EXPR} >= 0.55 AS INT)")


def q_events_bland_altman(spark, sf_dir):
    """Bland-Altman agreement between event value and the deterministic
    pseudo-model: bias, SD of differences, limits of agreement, and the
    within-limits fraction. Oracle: identical moments + recount."""
    return ME.bland_altman(_events(spark, sf_dir), _PRED_EXPR, "value")


def q_emb_rbo(spark, sf_dir):
    """Truncated RBO@10 (p=0.9) between the IVF index and exact cosine
    top-10 — position-aware agreement beside emb_ivf_recall's set
    overlap; entry-depth join + one cumulative fold. Oracle: identical
    construction over the two oracle rankings."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    approx = SIM.ivf_topk(
        emb, QUERY_VEC_IDS, k=10, refine_iters=0,
        seed_order=SAMP.portable_hash(F.col("vec_id")))
    exact = SIM.cosine_topk(emb, QUERY_VEC_IDS, k=10)
    return SIM.rank_biased_overlap(approx, exact, k=10, p=0.9)


def q_geo_domain_check(spark, sf_dir):
    """The reference's DISABLED convex-hull input check
    (biophys.py:16-18, 211-218 — per-vector Python any() over the 11k
    definition-domain grid cells, turned off as 'computationally slow')
    made fast: the reference's exact quantization as shared expression
    strings + ONE broadcast hash join of the 11k-cell grid against the
    decoded pixel frame. Oracle: identical strings + the same join over
    the vendored public ESA grid CSV."""
    from satellitetools_spark.biophys.nn import domain_grid_check
    docs = _geo_docs(spark, sf_dir)
    px = decode_documents(docs)
    out = domain_grid_check(px)
    return out.select("doc_id", "x", "y",
                      F.col("in_domain").cast("int").alias("in_domain"))


def q_events_wasserstein(spark, sf_dir):
    """Exact 1-d earth-mover distance between the user-id halves'
    value distributions — the integral drift metric beside KS's
    supremum, exact from the distinct-value CDF + lead(v) segments.
    Oracle: identical construction."""
    return INF.wasserstein_1(_events(spark, sf_dir), "pmod(user_id, 2)",
                             "value")


def q_events_cohens_d(spark, sf_dir):
    """Cohen's d / Hedges' g standardized mean difference between the
    user-id halves — the effect size a 10^9-row t-test must be paired
    with. Oracle: identical moment algebra."""
    return INF.cohens_d(_events(spark, sf_dir), "pmod(user_id, 2)",
                        "value")


def q_events_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe variance-equality F across event types: per-group
    lower medians from per-group distinct-value histograms, broadcast
    back for the |v − med| ANOVA. Oracle: identical two-stage SQL."""
    return INF.brown_forsythe(_events(spark, sf_dir), "event_type",
                              "value")


def q_docs_vocab_richness(spark, sf_dir):
    """Chao1 vocabulary-size lower bound + Good-Turing coverage from
    the token-count table's singleton/doubleton fold. Oracle: identical
    tokenize → counts → fold."""
    return TX.vocab_richness(_documents(spark, sf_dir))


def q_emb_retrieval_metrics(spark, sf_dir):
    """Label-relevance ranking audit of exact cosine top-10:
    precision@k, reciprocal rank, DCG/IDCG/NDCG per query — neighbor
    labels via broadcast of the k·|Q| top-k INTO the label projection,
    R from the label histogram. Oracle: identical construction."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return SIM.retrieval_metrics(emb, QUERY_VEC_IDS, k=10)


def q_emb_ivf_recall(spark, sf_dir):
    """Recall@10 of the deterministic IVF index against exact cosine
    top-10, per query — the ANN certification readout, in-gate rather
    than pytest-only. Oracle: the same join of the two oracle
    constructions."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    approx = SIM.ivf_topk(
        emb, QUERY_VEC_IDS, k=10, refine_iters=0,
        seed_order=SAMP.portable_hash(F.col("vec_id")))
    exact = SIM.cosine_topk(emb, QUERY_VEC_IDS, k=10)
    return SIM.ann_recall(approx, exact, k=10)


def q_docs_heavy_hitters(spark, sf_dir):
    """phi=0.03 token heavy hitters via two-pass Misra-Gries: per-
    partition MG summaries (mapInPandas, O(2/phi) memory) merged to a
    deterministic candidate superset, then ONE exact verify scan with a
    broadcast semi-join — the full token alphabet is never shuffled.
    Oracle: the direct exact computation the operator avoids."""
    return SKETCH.heavy_hitters(_documents(spark, sf_dir), phi=0.03)


def q_docs_avg_precision(spark, sf_dir):
    """Average precision (step-interpolated PR area) of the shared
    deterministic score vs the lang='en' label, from the distinct-score
    histogram. Oracle: identical cumulative construction."""
    return ME.average_precision(_documents(spark, sf_dir), _LABEL_EXPR,
                                _SCORE_EXPR)


def q_docs_confusion(spark, sf_dir):
    """Confusion matrix at score>=0.5 with accuracy/precision/recall/
    F1/MCC in one conditional agg. Oracle: identical CASE algebra."""
    return ME.confusion_at_threshold(_documents(spark, sf_dir),
                                     _LABEL_EXPR, _SCORE_EXPR)


def q_docs_kappa(spark, sf_dir):
    """Cohen's kappa between lang and an 80%-agreeing deterministic
    pseudo-annotator — joint histogram + marginal windows.
    Oracle: identical p_o/p_e algebra."""
    return ME.cohens_kappa(_documents(spark, sf_dir), "lang", _ANNOT_EXPR)


def q_events_kendall(spark, sf_dir):
    """Kendall tau-b between hour-of-day and the decade-binned event
    value — C/D pair counts over the joint-histogram CELL self-join
    (O(cells^2), independent of n). Oracle: identical construction."""
    return ME.kendall_tau_b(_events(spark, sf_dir),
                            "CAST(hour(ts) AS INT)",
                            "CAST(FLOOR(value / 10.0) AS INT)")


def q_docs_woe_iv(spark, sf_dir):
    """Weight-of-Evidence / Information-Value per source against the
    lang='en' label, Laplace-smoothed. Oracle: identical shares."""
    return ME.woe_iv(_documents(spark, sf_dir), _LABEL_EXPR, "source")


def q_docs_fairness(spark, sf_dir):
    """Per-source fairness audit of the thresholded score: selection
    rate / TPR / FPR with gaps to the overall rates. Oracle: identical
    conditional folds."""
    return ME.fairness_report(
        _documents(spark, sf_dir), _LABEL_EXPR,
        f"CAST({_SCORE_EXPR} >= 0.5 AS INT)", "source")


def q_events_conformal(spark, sf_dir):
    """Split-conformal interval for a deterministic pseudo-model of
    event value: exact order-statistic q-hat from the residual
    histogram on the event_id%5=0 calibration slice + empirical test
    coverage. Oracle: identical histogram order statistic."""
    return ME.conformal_interval(
        _events(spark, sf_dir), _PRED_EXPR, "value",
        "event_id % 5 = 0")


_LINKPRED_TAU = 0.4  # looser than NEARDUP_TAU: the link-prediction
# graph must keep open wedges (cosine is non-transitive there)


def _emb_sim_graph(spark, sf_dir):
    """Embedding-similarity graph: undirected pairs at cosine >=
    _LINKPRED_TAU (brute-force exact — the oracle-checkable edge set;
    rh_lsh_pairs is the 100 TB candidate generator for it)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    a = emb.select(F.col("vec_id").alias("vec_id_a"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_id_b"),
                   F.col("embedding").alias("vb"))
    pairs = SIM.with_cosine(
        a.join(b, F.col("vec_id_a") < F.col("vec_id_b")), "va", "vb")
    return (pairs.filter(F.col("cosine") >= _LINKPRED_TAU)
            .select("vec_id_a", "vec_id_b"))


_EMB_SIM_GRAPH_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= 0.4"""


def q_events_ols_trend(spark, sf_dir):
    """Per-event-type OLS of value on time (epoch days): slope,
    intercept, R², residual/slope standard errors, t and normal-approx
    p — the parametric effect-size companion to the Mann-Kendall gate
    query. ONE moment aggregation; oracle: identical closed-form
    algebra and shared erf string."""
    return ME.ols_fit(
        _events(spark, sf_dir), "value",
        "CAST(CAST(ts AS TIMESTAMP) AS DOUBLE) / 86400.0", "event_type")


def q_emb_lpa(spark, sf_dir):
    """Synchronous label-propagation communities (4 unrolled rounds,
    count-DESC/label-ASC tie order) over the embedding-similarity
    graph — splits connected near-dup regions into densely-linked
    communities, unlike connected components. Oracle: identical
    unrolled rounds as CTE layers."""
    return GR.label_propagation(_emb_sim_graph(spark, sf_dir),
                                src_col="vec_id_a",
                                dst_col="vec_id_b")


def q_events_smd_balance(spark, sf_dir):
    """Covariate-balance audit of the user-id-parity pseudo-experiment:
    standardized mean difference + variance ratio for value, hour, and
    value² in ONE conditional-moment pass. Oracle: identical algebra."""
    return INF.smd_balance(
        _events(spark, sf_dir), "user_id % 2 = 1",
        ["value", "CAST(hour(ts) AS DOUBLE)", "value * value"])


def q_docs_logistic(spark, sf_dir):
    """Logistic regression (8 IRLS iterations) of the lang='en' label
    on the shared deterministic score and scaled length — per-
    iteration d²-sized sufficient statistics via one JVM-side
    aggregation, NumPy Newton solve driver-side. Non-SQL (matrix
    solve); pytest pins golden parity with pure-NumPy IRLS; the
    gate now compares VALUES against independent ground-truth parquet (groundtruth.py)."""
    return ME.logistic_fit(_documents(spark, sf_dir), _LABEL_EXPR,
                           [_SCORE_EXPR, "n_chars / 1000.0"])


def q_events_haversine(spark, sf_dir):
    """Great-circle within-300km join of deterministic synthetic event
    coordinates to a 12-station grid: latitude-banded equi-join + exact
    haversine on survivors (the lon/lat twin of distance_join; S2-style
    cell_join is the planetary candidate generator). Oracle: BRUTE-FORCE
    all pairs with the identical formula string — independently proves
    the banding lossless."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        (F.expr("CAST(user_id % 360 AS DOUBLE) - 180.0 + 0.25")
         .alias("lon")),
        (F.expr("CAST((user_id * 7) % 120 AS DOUBLE) - 60.0 + 0.25")
         .alias("lat")))
    st = spark.range(12).select(
        F.col("id").alias("station_id"),
        F.expr("CAST((id * 61) % 360 AS DOUBLE) - 180.0").alias("slon"),
        F.expr("CAST((id * 37) % 120 AS DOUBLE) - 60.0").alias("slat"))
    return SP.haversine_join(ev, st, radius_km=300.0)


def q_geo_hull(spark, sf_dir):
    """Per-document convex hull (monotone chain) of the inside-AOI
    pixel cloud with shoelace area + perimeter — the AOI footprint
    sanity readout. Hull selection is data-dependent (non-SQL); pytest
    pins golden squares/collinear cases; the gate now compares VALUES against independent ground-truth parquet (groundtruth.py)."""
    px = (_geo(spark, sf_dir, "oracle_pixels")
          .filter("inside").select("doc_id", "x", "y"))
    return SP.convex_hull(px)


def q_geo_simplify(spark, sf_dir):
    """Douglas-Peucker ring simplification (tol 12 m) of deterministic
    120-vertex noisy-circle AOIs built per scene — vertex-subset +
    max-deviation guarantees pinned in pytest (the split recursion is
    non-SQL); the gate now compares VALUES against independent ground-truth parquet (groundtruth.py)."""
    sc = _geo(spark, sf_dir, "scenes")
    rings = sc.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, 120), k -> named_struct("
            "'x', 4000.0 + (900.0 + 80.0 * cos(12.0 * pmod(k, 120) * 0.05236))"
            " * cos(pmod(k, 120) * 0.05236), "
            "'y', 4000.0 + (900.0 + 80.0 * cos(12.0 * pmod(k, 120) * 0.05236))"
            " * sin(pmod(k, 120) * 0.05236)))").alias("ring"))
    return (SP.simplify_rings(rings, tolerance=12.0)
            .select("doc_id", "n_before", "n_after"))


def q_docs_trend_test(spark, sf_dir):
    """Cochran-Armitage linear-trend test of the lang='en' rate across
    n_chars-decade dose levels — one dose-alphabet agg + fold.
    Oracle: identical construction + shared erf string."""
    return INF.trend_test(_documents(spark, sf_dir),
                          "CAST(FLOOR(n_chars / 100.0) AS INT)",
                          "lang = 'en'")


def q_events_median_test(spark, sf_dir):
    """Mood's median test of event value across types: exact grand
    median from the distinct-value histogram, one conditional
    above/below agg, χ² with k−1 dof. Oracle: identical construction."""
    return INF.median_test(_events(spark, sf_dir), "event_type",
                           "value")


def q_docs_qini(spark, sf_dir):
    """Qini uplift curve (10 value bins, best first) of the shared
    deterministic score against doc-parity pseudo-treatment and the
    lang='en' outcome — one conditional agg + cumulative windows over
    the bin table. Oracle: identical binning + walk."""
    return ME.qini_curve(_documents(spark, sf_dir), "doc_id % 2 = 1",
                         "lang = 'en'", _SCORE_EXPR)


def q_docs_ipw(spark, sf_dir):
    """Hájek IPW treatment-effect readout with clipped deterministic
    propensity and Kish effective sample sizes — ONE conditional
    aggregation. Oracle: identical weights + folds."""
    return INF.ipw_effect(_documents(spark, sf_dir), "doc_id % 2 = 1",
                          "n_chars", f"0.2 + 0.6 * ({_SCORE_EXPR})")


def q_geo_clip(spark, sf_dir):
    """Vector overlay: Sutherland-Hodgman clip of the deterministic
    noisy-circle AOIs by a convex processing window, with intersection
    areas — map-only Arrow kernel, zero shuffle. The edge-walk is
    non-SQL; pytest pins golden rectangle/triangle/containment cases;
    the gate now compares VALUES against independent ground-truth parquet (groundtruth.py)."""
    sc = _geo(spark, sf_dir, "scenes")
    rings = sc.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, 119), k -> named_struct("
            "'x', 4000.0 + (900.0 + 80.0 * cos(12.0 * k * 0.05236))"
            " * cos(k * 0.05236), "
            "'y', 4000.0 + (900.0 + 80.0 * cos(12.0 * k * 0.05236))"
            " * sin(k * 0.05236)))").alias("ring"))
    window = [(3400.0, 3400.0), (4600.0, 3400.0), (4600.0, 4600.0),
              (3400.0, 4600.0)]
    return (SP.clip_polygons(rings, window)
            .select("doc_id", "n_in", "area_in", "n_out", "area_out"))


def q_events_logrank(spark, sf_dir):
    """Two-group log-rank test on user lifetimes (arm = user parity,
    same censoring construction as events_km): suffix at-risk windows
    over the duration histogram + one fold. Oracle: identical
    construction."""
    return TEMPORAL.log_rank_test(_events(spark, sf_dir),
                                  "user_id % 2")


def q_events_poisson_rate(spark, sf_dir):
    """Poisson rate-ratio test of error events per distinct user
    between the user-parity arms — the count-metric A/B readout where
    the t-test is wrong. Oracle: identical conditional counts +
    shared erf string."""
    return INF.poisson_rate_test(_events(spark, sf_dir),
                                 "user_id % 2 = 1",
                                 "event_type = 'error'")


def q_events_rank_int(spark, sf_dir):
    """Rank-based inverse normal transform of event value per type
    (Blom midranks from the distinct-value histogram; Acklam Φ⁻¹ as a
    shared formula string — pure codegen, no scipy). Oracle: identical
    histogram + formula text."""
    return INF.rank_inverse_normal(_events(spark, sf_dir), "value",
                                   "event_type")


def q_events_msprt(spark, sf_dir):
    """Always-valid sequential A/B monitor (normal-mixture mSPRT,
    tau=1) of the user-parity experiment over daily increments —
    cumulative windows over the DAY table only. Oracle: identical
    increments + mixture-LR algebra."""
    return INF.msprt_monitor(_events(spark, sf_dir), "user_id % 2 = 1",
                             "value")


def q_geo_kriging(spark, sf_dir):
    """Ordinary-kriging hold-out fill of the DEM (cells with cell%5=0
    predicted from the rest, k=8, exponential variogram): distance_join
    candidates -> unrounded-d2 kNN -> one mapInPandas OK solve per
    point. Per-point solve is non-SQL; pytest pins NumPy parity +
    exact interpolation; the gate now compares VALUES against independent ground-truth parquet (groundtruth.py)."""
    dem = _geo(spark, sf_dir, "dem")
    coords = dem.select(
        "cell", "elevation",
        ((F.col("cell") % 4294967296) * 160.0 + 80.0).alias("cx"),
        (F.floor(F.col("cell") / 4294967296) * 160.0 + 80.0).alias("cy"))
    stations = (coords.filter("cell % 5 != 0")
                .select(F.col("cell").alias("station_id"),
                        F.col("cx").alias("sx"), F.col("cy").alias("sy"),
                        "elevation"))
    targets = (coords.filter("cell % 5 = 0")
               .select(F.col("cell").cast("string").alias("doc_id"),
                       F.col("cx").alias("x"), F.col("cy").alias("y")))
    return SP.kriging_fill(targets, stations, k=8, radius=800.0,
                           cell_m=160.0, vrange=1000.0)


def q_events_covisitation(spark, sf_dir):
    """Item-item co-visitation (distinct-user wedge join + cosine
    normalization) over (user, event_type) interactions — the
    related-content primitive. Oracle: identical dedupe + wedge +
    cosine."""
    return SEG.covisitation(_events(spark, sf_dir))


def q_events_did(spark, sf_dir):
    """Difference-in-differences of event value: treat = odd user,
    post = second half-month — the staggered-rollout causal readout
    with cell variances, z, and normal p in ONE conditional pass.
    Oracle: identical 2x2 moment algebra + shared erf string."""
    return INF.diff_in_diff(
        _events(spark, sf_dir), "user_id % 2 = 1",
        "day(ts) > 15", "value")


def q_events_trimmed(spark, sf_dir):
    """Exact 5% trimmed + winsorized mean of event value per type via
    the distinct-value histogram + partial tail weights — no raw-row
    sort. Oracle: identical cumulative-window algebra."""
    return INF.trimmed_stats(_events(spark, sf_dir), "value",
                             "event_type", trim=0.05)


def q_docs_rake(spark, sf_dir):
    """RAKE corpus keywords: gaps-and-islands phrase segmentation (one
    token-stream exchange, zero UDFs), vocabulary-cardinality deg/freq
    stats, heap top-25 multi-word phrases. Oracle: identical relational
    algebra and tie order."""
    return TX.rake_keywords(_documents(spark, sf_dir), top_k=25)


def q_events_scd2(spark, sf_dir):
    """Type-2 SCD build from the event log (key=user, tracked
    attribute=event_type): consecutive no-change rows collapsed, one
    validity interval per state run, lead-closed, is_current flag —
    one exchange, both windows share the sort. Oracle: identical
    lag-mark + lead-close windows."""
    return TEMPORAL.scd2_build(_events(spark, sf_dir), "user_id", "ts",
                               ["event_type"])


def q_events_attribution(spark, sf_dir):
    """Last-touch + journey-first-touch attribution of purchases to
    view/click touches (1-day lookback) — running struct-max carries
    instead of the naive conversions×touches range join. Oracle: the
    same windows with (epoch_us, type) packed into sortable tokens."""
    return TEMPORAL.attribution(
        _events(spark, sf_dir), "event_type = 'purchase'",
        "event_type IN ('view', 'click')", 86400.0)


def q_emb_bfs(spark, sf_dir):
    """Minimum hop distance (≤4) from the vec_id%7=0 seed set over the
    embedding-similarity graph — contamination blast radius by frontier
    rounds (frontier⋈edges + min-merge per round). Oracle: identical
    unrolled layers."""
    pairs = _emb_sim_graph(spark, sf_dir)
    seeds = (pairs.select(F.col("vec_id_a").alias("node"))
             .unionByName(pairs.select(F.col("vec_id_b").alias("node")))
             .distinct().filter("node % 7 = 0"))
    return GR.bfs_hops(pairs, seeds, max_hops=4,
                       src_col="vec_id_a", dst_col="vec_id_b")


def q_docs_isotonic(spark, sf_dir):
    """Isotonic (PAV) calibration of the shared deterministic score
    against the lang='en' label: one hash agg to the distinct-score
    histogram, then the sequential pooling pass over that alphabet-
    sized table only. PAV's data-dependent merge loop is non-SQL-
    expressible — pytest pins golden parity with a NumPy reference;
    the gate now compares VALUES against independent ground-truth parquet (groundtruth.py)."""
    return ME.isotonic_calibration(_documents(spark, sf_dir),
                                   _LABEL_EXPR, _SCORE_EXPR)


def q_events_dtw(spark, sf_dir):
    """Banded DTW distance between per-event-type hourly mean-value
    curves — shape-aware series comparison (band=6). The DP recurrence
    is non-SQL-expressible — pytest pins golden parity with a full-
    matrix NumPy reference; the gate now compares VALUES against independent ground-truth parquet (groundtruth.py)."""
    ev = _events(spark, sf_dir)
    hourly = (ev.groupBy(F.col("event_type").alias("key"),
                         F.date_trunc("hour", "ts").alias("t"))
              .agg(F.avg("value").alias("v")))
    return TEMPORAL.dtw_distance(hourly, band=6)


def q_docs_allpairs_jaccard(spark, sf_dir):
    """EXACT Jaccard>=t pairs via AllPairs prefix filtering — the
    exact-threshold scale path (prefixes are the rarest shingles, so
    the candidate join never fans out on stopword n-grams). Oracle:
    the brute-force shingle equi-join (provable recall 1.0)."""
    return D.allpairs_jaccard_pairs(_documents(spark, sf_dir),
                                    threshold=JACCARD_T)


def q_docs_naive_bayes(spark, sf_dir):
    """Multinomial naive-Bayes re-prediction of each document's lang
    from its token evidence (trained in-plan on the same corpus,
    Laplace alpha=1) — the weak-labeler / label-noise audit. Oracle:
    identical smoothing algebra and rounded-score argmax."""
    return TX.naive_bayes_predict(_documents(spark, sf_dir))


def q_emb_adamic_adar(spark, sf_dir):
    """Adamic-Adar / common-neighbor / Jaccard-coefficient link
    prediction over the embedding-similarity graph — surfaces
    transitive near-duplicates the pairwise cosine threshold missed.
    Oracle: identical wedge join + anti-join + score algebra."""
    return GR.adamic_adar(_emb_sim_graph(spark, sf_dir),
                          "vec_id_a", "vec_id_b")


def q_emb_kcore(spark, sf_dir):
    """2-core of the embedding-similarity graph (8 fixed peeling
    rounds, converged + idempotent on this data) — strips pendant
    near-dups, isolating the dense duplicate heart. Oracle: identical
    unrolled peeling."""
    return GR.k_core(_emb_sim_graph(spark, sf_dir), k=2, rounds=8,
                     src_col="vec_id_a", dst_col="vec_id_b")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query by name, in declaration order. Consumers
    (the oracle gate, tests) look entries up by key."""
    return {
        "docs_drift": q_docs_drift,
        "docs_snapshot_diff": q_docs_snapshot_diff,
        "docs_line_dedup": q_docs_line_dedup,
        "geo_scl_pivot": q_geo_scl_pivot,
        "docs_char_entropy": q_docs_char_entropy,
        "docs_bpe_merges": q_docs_bpe_merges,
        "geo_scl_coarse_mode": q_geo_scl_coarse_mode,
        "events_skew_report": q_events_skew_report,
        "docs_pmi_bigrams": q_docs_pmi_bigrams,
        "docs_simhash_pairs": q_docs_simhash_pairs,
        "docs_winnow_fp": q_docs_winnow_fp,
        "docs_doc_frequency": q_docs_doc_frequency,
        "docs_tfidf_topk": q_docs_tfidf_topk,
        "docs_hash_split": q_docs_hash_split,
        "docs_stratified_sample": q_docs_stratified_sample,
        "docs_global_order": q_docs_global_order,
        "docs_quality_quantiles": q_docs_quality_quantiles,
        "docs_repetition": q_docs_repetition,
        "docs_pack": q_docs_pack,
        "docs_redact": q_docs_redact,
        "docs_decontaminate": q_docs_decontaminate,
        "docs_train_pipeline": q_docs_train_pipeline,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_ann_ivf": q_emb_ann_ivf,
        "emb_pca_cov": q_emb_pca_cov,
        "emb_pq_topk": q_emb_pq_topk,
        "docs_lm_score": q_docs_lm_score,
        "docs_bm25": q_docs_bm25,
        "events_asof_join": q_events_asof_join,
        "events_range_join": q_events_range_join,
        "events_hourly": q_events_hourly,
        "events_sessionize": q_events_sessionize,
        "events_grid_fill": q_events_grid_fill,
        "events_interp": q_events_interp,
        "events_anomaly": q_events_anomaly,
        "events_ewma": q_events_ewma,
        "events_funnel": q_events_funnel,
        "events_retention": q_events_retention,
        "events_rollup": q_events_rollup,
        "events_concurrency": q_events_concurrency,
        "events_kmv_daily": q_events_kmv_daily,
        "sales_topk": q_sales_topk,
        "fk_violations": q_fk_violations,
        "pricing_summary": q_pricing_summary,
        "events_latest": q_events_latest,
        "geo_distance_join": q_geo_distance_join,
        "docs_pps_sample": q_docs_pps_sample,
        "docs_wrs_sample": q_docs_wrs_sample,
        "docs_quality": q_docs_quality,
        "docs_token_stats": q_docs_token_stats,
        "docs_lang_id": q_docs_lang_id,
        "geo_pixels": q_geo_pixels,
        "geo_qi": q_geo_qi,
        "geo_qi_filter": q_geo_qi_filter,
        "geo_tile_mode": q_geo_tile_mode,
        "geo_dedup": q_geo_dedup,
        "geo_ndvi_timeseries": q_geo_ndvi_timeseries,
        "geo_lai_pixels": q_geo_lai_pixels,
        "geo_lai_timeseries": q_geo_lai_timeseries,
        "geo_vi_pixels": q_geo_vi_pixels,
        "geo_snap_all": q_geo_snap_all,
        "geo_cell_join": q_geo_cell_join,
        "geo_knn_fill": q_geo_knn_fill,
        "geo_hot_tile_counts": q_geo_hot_tile_counts,
        "geo_span_roundtrip": q_geo_span_roundtrip,
        "geo_media_stats": q_geo_media_stats,
        "media_features": q_media_features,
        "emb_cosine_pairs": q_emb_cosine_pairs,
        "emb_lsh_pairs": q_emb_lsh_pairs,
        "geo_ragged_drop": q_geo_ragged_drop,
        "geo_angle_means": q_geo_angle_means,
        "geo_scene_identity": q_geo_scene_identity,
        "geo_dem_lookup": q_geo_dem_lookup,
        "geo_zorder_key": q_geo_zorder_key,
        "geo_focal_mean": q_geo_focal_mean,
        "geo_cell_pyramid": q_geo_cell_pyramid,
        "geo_gradient": q_geo_gradient,
        "geo_ts_incremental": q_geo_ts_incremental,
        "docs_profile": q_docs_profile,
        "docs_expectations": q_docs_expectations,
        "docs_exact_dedup": q_docs_exact_dedup,
        "docs_jaccard_pairs": q_docs_jaccard_pairs,
        "docs_minhash_pairs": q_docs_minhash_pairs,
        "docs_dup_components": q_docs_dup_components,
        "docs_pagerank": q_docs_pagerank,
        "docs_hybrid_rrf": q_docs_hybrid_rrf,
        "docs_salted_join": q_docs_salted_join,
        "docs_histogram": q_docs_histogram,
        "docs_binned_quantiles": q_docs_binned_quantiles,
        "docs_triangles": q_docs_triangles,
        "docs_kmv_distinct": q_docs_kmv_distinct,
        "docs_kmv_by_lang": q_docs_kmv_by_lang,
        "emb_dup_clusters": q_emb_dup_clusters,
        "docs_dup_keeper": q_docs_dup_keeper,
        "geo_knn_join": q_geo_knn_join,
        "docs_quality_pctile": q_docs_quality_pctile,
        "docs_fuzzy_pairs": q_docs_fuzzy_pairs,
        "docs_bpe_encode": q_docs_bpe_encode,
        "events_transitions": q_events_transitions,
        "geo_hillshade": q_geo_hillshade,
        "geo_zonal_stats": q_geo_zonal_stats,
        "geo_ndvi_sg": q_geo_ndvi_sg,
        "events_cusum": q_events_cusum,
        "geo_aoi_metrics": q_geo_aoi_metrics,
        "geo_harmonic": q_geo_harmonic,
        "geo_phenology": q_geo_phenology,
        "geo_moran": q_geo_moran,
        "geo_flowdir": q_geo_flowdir,
        "geo_composite": q_geo_composite,
        "geo_gstar": q_geo_gstar,
        "geo_mk_trend": q_geo_mk_trend,
        "geo_emerging_hotspots": q_geo_emerging_hotspots,
        "geo_variogram": q_geo_variogram,
        "geo_harmonic_anomaly": q_geo_harmonic_anomaly,
        "docs_chunks": q_docs_chunks,
        "events_acf": q_events_acf,
        "docs_mixture_weights": q_docs_mixture_weights,
        "geo_flowacc": q_geo_flowacc,
        "geo_twi": q_geo_twi,
        "geo_lisa": q_geo_lisa,
        "geo_contours": q_geo_contours,
        "events_interarrival": q_events_interarrival,
        "events_entropy": q_events_entropy,
        "geo_resid_acf": q_geo_resid_acf,
        "events_pettitt": q_events_pettitt,
        "events_seasonal": q_events_seasonal,
        "events_ccf": q_events_ccf,
        "events_trigrams": q_events_trigrams,
        "geo_terrain_idx": q_geo_terrain_idx,
        "geo_ripley_k": q_geo_ripley_k,
        "orders_benford": q_orders_benford,
        "docs_spearman": q_docs_spearman,
        "events_seasonal_mk": q_events_seasonal_mk,
        "geo_clark_evans": q_geo_clark_evans,
        "geo_kde": q_geo_kde,
        "geo_knox": q_geo_knox,
        "docs_zipf": q_docs_zipf,
        "events_ab": q_events_ab,
        "geo_regions": q_geo_regions,
        "geo_variogram_dir": q_geo_variogram_dir,
        "geo_stretch": q_geo_stretch,
        "geo_idw": q_geo_idw,
        "geo_gwr": q_geo_gwr,
        "geo_geary": q_geo_geary,
        "geo_join_counts": q_geo_join_counts,
        "geo_dbscan": q_geo_dbscan,
        "geo_shadow": q_geo_shadow,
        "events_holt": q_events_holt,
        "geo_view_circular": q_geo_view_circular,
        "geo_hexbin": q_geo_hexbin,
        "orders_rfm": q_orders_rfm,
        "lineitem_gini": q_lineitem_gini,
        "orders_basket": q_orders_basket,
        "events_km": q_events_km,
        "events_runs": q_events_runs,
        "events_mad": q_events_mad,
        "emb_silhouette": q_emb_silhouette,
        "emb_validity": q_emb_validity,
        "docs_dice_pairs": q_docs_dice_pairs,
        "docs_readability": q_docs_readability,
        "geo_landform": q_geo_landform,
        "geo_patches": q_geo_patches,
        "geo_change": q_geo_change,
        "events_markov_entropy": q_events_markov_entropy,
        "events_hurst": q_events_hurst,
        "docs_lexdiv": q_docs_lexdiv,
        "orders_cohort": q_orders_cohort,
        "emb_mmr": q_emb_mmr,
        "events_peaks": q_events_peaks,
        "geo_xcorr": q_geo_xcorr,
        "sales_hits": q_sales_hits,
        "docs_chi2": q_docs_chi2,
        "lineitem_abc": q_lineitem_abc,
        "docs_term_dispersion": q_docs_term_dispersion,
        "events_backtest": q_events_backtest,
        "geo_sieve": q_geo_sieve,
        "events_strength": q_events_strength,
        "emb_outliers": q_emb_outliers,
        "events_welch": q_events_welch,
        "events_anova": q_events_anova,
        "docs_mwu": q_docs_mwu,
        "docs_kruskal": q_docs_kruskal,
        "events_ks": q_events_ks,
        "events_psi": q_events_psi,
        "docs_roc_auc": q_docs_roc_auc,
        "docs_calibration": q_docs_calibration,
        "docs_brier": q_docs_brier,
        "docs_gains": q_docs_gains,
        "docs_mi": q_docs_mi,
        "docs_cramers_v": q_docs_cramers_v,
        "events_jsd": q_events_jsd,
        "docs_fdr": q_docs_fdr,
        "events_bootstrap": q_events_bootstrap,
        "docs_avg_precision": q_docs_avg_precision,
        "docs_confusion": q_docs_confusion,
        "docs_kappa": q_docs_kappa,
        "events_kendall": q_events_kendall,
        "docs_woe_iv": q_docs_woe_iv,
        "docs_fairness": q_docs_fairness,
        "events_conformal": q_events_conformal,
        "docs_heavy_hitters": q_docs_heavy_hitters,
        "emb_retrieval_metrics": q_emb_retrieval_metrics,
        "emb_ivf_recall": q_emb_ivf_recall,
        "geo_domain_check": q_geo_domain_check,
        "geo_span_profile": q_geo_span_profile,
        "events_cuped": q_events_cuped,
        "docs_hosmer_lemeshow": q_docs_hosmer_lemeshow,
        "events_wilcoxon": q_events_wilcoxon,
        "docs_mcnemar": q_docs_mcnemar,
        "events_bland_altman": q_events_bland_altman,
        "emb_rbo": q_emb_rbo,
        "events_wasserstein": q_events_wasserstein,
        "events_cohens_d": q_events_cohens_d,
        "events_brown_forsythe": q_events_brown_forsythe,
        "docs_vocab_richness": q_docs_vocab_richness,
        "emb_adamic_adar": q_emb_adamic_adar,
        "emb_kcore": q_emb_kcore,
        "events_ols_trend": q_events_ols_trend,
        "docs_naive_bayes": q_docs_naive_bayes,
        "docs_allpairs_jaccard": q_docs_allpairs_jaccard,
        "docs_isotonic": q_docs_isotonic,
        "events_dtw": q_events_dtw,
        "emb_lpa": q_emb_lpa,
        "events_smd_balance": q_events_smd_balance,
        "docs_logistic": q_docs_logistic,
        "events_haversine": q_events_haversine,
        "geo_hull": q_geo_hull,
        "geo_simplify": q_geo_simplify,
        "events_scd2": q_events_scd2,
        "events_attribution": q_events_attribution,
        "emb_bfs": q_emb_bfs,
        "docs_rake": q_docs_rake,
        "events_covisitation": q_events_covisitation,
        "events_did": q_events_did,
        "events_trimmed": q_events_trimmed,
        "geo_kriging": q_geo_kriging,
        "events_rank_int": q_events_rank_int,
        "events_msprt": q_events_msprt,
        "events_logrank": q_events_logrank,
        "events_poisson_rate": q_events_poisson_rate,
        "geo_clip": q_geo_clip,
        "docs_qini": q_docs_qini,
        "docs_ipw": q_docs_ipw,
        "events_median_test": q_events_median_test,
        "docs_trend_test": q_docs_trend_test,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _ragged_docs_glob() -> str:
    return os.path.join(ensure_geodata(RAGGED_TAG), "docs.parquet", "*.parquet")


def _span_profile_oracle() -> str:
    from satellitetools_spark.sources.docs import span_profile_sql
    return span_profile_sql(_g("docs"))


def _domain_check_inner_sql() -> str:
    """Oracle inner SQL for geo_domain_check: band columns from the
    oracle pixel table through the shared quantization + grid join."""
    from satellitetools_spark.biophys.nn import (_aux,
                                                 domain_grid_check_sql)
    grid_path = str(_aux("LAI", "LAI_DefinitionDomain_Grid"))
    inner = (f"SELECT doc_id, x, y, B3, B4, B5, B6, B7, B8A, B11, B12 "
             f"FROM read_parquet('{_g('oracle_pixels')}') WHERE inside")
    return domain_grid_check_sql(inner, "LAI", grid_path)


def _g(name: str) -> str:
    """Absolute path of an oracle-scale geodata parquet (glob for the
    multi-file docs table directory)."""
    p = os.path.join(geodata_dir(ORACLE_TAG), f"{name}.parquet")
    return os.path.join(p, "*.parquet") if name == "docs" else p


def _ndvi_series_sql() -> str:
    """Oracle-scale per-(aoi, date) mean-NDVI series (shared input of
    the SG / harmonic / phenology oracles)."""
    return f"""SELECT aoi, strftime(acquisition_time, '%Y-%m-%d')
         AS date_str,
       ROUND(SUM((B8A - B4) / (B8A + B4))
             / COUNT((B8A - B4) / (B8A + B4)), 6)
         AS mean_ndvi
FROM read_parquet('{_g("oracle_pixels")}') WHERE inside
GROUP BY aoi, date_str"""


def _qi_pct_sql() -> str:
    cases = ",\n       ".join(
        f"AVG(CASE WHEN SCL = {i} THEN 1.0 ELSE 0.0 END) AS {c.lower()}"
        for i, c in enumerate(SCL_CLASSES))
    return f"""
  SELECT doc_id,
       {cases}
  FROM read_parquet('{_g("oracle_scl20")}')
  WHERE inside
  GROUP BY doc_id
"""


def _survivor_cte() -> str:
    """CTE chain reproducing QI filter + intended dedup + tile mode."""
    fsum = " + ".join(c.lower() for c in S2_FILTER1)
    return f"""
pct AS ({_qi_pct_sql()}),
qi AS (
  SELECT s.doc_id, s.aoi, s.tileid, s.assetid, s.productid, s.processing
  FROM read_parquet('{_g("scenes")}') s JOIN pct USING (doc_id)
  WHERE {fsum} <= 0.02
),
ded AS (
  SELECT *, row_number() OVER (
      PARTITION BY aoi, productid
      ORDER BY CASE WHEN processing LIKE '%sentinel-2-c1-l2a-to-stac%'
               THEN 0 ELSE 1 END, assetid) AS rn
  FROM qi
),
d1 AS (SELECT * FROM ded WHERE rn = 1),
tmode AS (
  SELECT aoi, tileid FROM (
    SELECT aoi, tileid,
           row_number() OVER (PARTITION BY aoi
                              ORDER BY count(*) DESC, tileid ASC) AS rn
    FROM d1 GROUP BY aoi, tileid)
  WHERE rn = 1
),
surv AS (
  SELECT d1.doc_id, d1.aoi, d1.tileid, d1.productid
  FROM d1 JOIN tmode USING (aoi, tileid)
)"""


def _ts_stats_sql(var_expr: str, var: str, snap: bool, digits: int) -> str:
    """Shared timeseries-statistics SQL over QI-survivor pixels."""
    rmse = 0.89  # LAI
    if snap:
        n_se = ("CASE WHEN gsd < 20 THEN GREATEST(1.0, n / ((20.0/gsd)*(20.0/gsd))) "
                "ELSE n END")
        n2 = (f"CASE WHEN gsd < 20 THEN GREATEST(1.0, ({n_se}) / ((20.0/gsd)*(20.0/gsd))) "
              f"ELSE ({n_se}) END")
        unc = (f"sqrt(vstd*vstd + (sqrt(floor({n2}) * {rmse}*{rmse}) / ({n2})) "
               f"* (sqrt(floor({n2}) * {rmse}*{rmse}) / ({n2})))")
        extra = f""",
       ROUND({unc}, {digits}) AS {var}_unc,
       ROUND(GREATEST(0.0, vmean - 1.96 * ({unc})), {digits}) AS {var}_lo,
       ROUND(vmean + 1.96 * ({unc}), {digits}) AS {var}_hi"""
    else:
        n_se = "n"
        extra = ""
    return f"""
WITH {_survivor_cte()},
px AS (
  SELECT p.aoi, p.acquisition_time, p.aoi_pixels, s.target_gsd AS gsd,
         {var_expr} AS v
  FROM read_parquet('{_g("oracle_pixels")}') p
  JOIN read_parquet('{_g("scenes")}') s USING (doc_id)
  JOIN surv USING (doc_id)
  WHERE p.inside
),
g AS (
  SELECT aoi, strftime(acquisition_time, '%Y-%m-%d %H:%M:%S') AS time_str,
         CAST(count(v) AS DOUBLE) AS n,
         avg(v) AS vmean, median(v) AS vmed, stddev_pop(v) AS vstd,
         any_value(aoi_pixels) AS apx, any_value(gsd) AS gsd
  FROM px GROUP BY 1, 2
)
SELECT aoi, time_str,
       ROUND(vmean, {digits}) AS {var},
       ROUND(vmed, {digits}) AS {var}_f050,
       ROUND(vstd, {digits}) AS {var}_std,
       ROUND(vstd / sqrt({n_se}), {digits}) AS {var}_se{extra},
       ROUND((apx - n) / apx, 6) AS {var}_nan_pct
FROM g WHERE n > 0
"""


def _corpus_pipeline_sql() -> str:
    from satellitetools_spark.plans.corpus import train_data_pipeline_sql
    return train_data_pipeline_sql()


def _aoi_raster_sql(fn: str) -> str:
    """(aoi, ix, iy, v) NDVI raster of each AOI's first (MIN) or last
    (MAX) acquisition — the oracle twin of _aoi_extreme_raster."""
    return f"""SELECT p.aoi,
       CAST(FLOOR(p.x / s.target_gsd) AS BIGINT) AS ix,
       CAST(FLOOR(p.y / s.target_gsd) AS BIGINT) AS iy,
       (p.B8 - p.B4) / (p.B8 + p.B4) AS v
FROM read_parquet('{_g("oracle_pixels")}') p
JOIN read_parquet('{_g("scenes")}') s USING (doc_id)
JOIN (SELECT aoi, {fn}(acquisition_time) AS te
      FROM read_parquet('{_g("oracle_pixels")}')
      WHERE inside GROUP BY aoi) e
  ON e.aoi = p.aoi AND p.acquisition_time = e.te
WHERE p.inside"""


def _gt(name: str) -> str:
    """Absolute path of the expected-output ground-truth parquet for a
    formerly rows-only query (independent re-computation — see
    satellitetools_spark/groundtruth.py)."""
    from satellitetools_spark.groundtruth import ensure_groundtruth
    exp_dir = ensure_groundtruth(
        ORACLE_TAG, os.environ.get("SF_DIR", "/root/testdata/sf0.01"))
    return os.path.join(exp_dir, f"{name}.parquet")


def oracle_sql() -> dict[str, str]:
    ensure_geodata(ORACLE_TAG)
    snap_lai = snap_sql_expr("LAI")
    cosine_topk_sql_one = SIM.cosine_topk_sql([QUERY_VEC_IDS[0]], k=25)
    oracles = {
        "geo_pixels": f"""
SELECT doc_id, x, y,
       ROUND(B2, 9) AS b2, ROUND(B4, 9) AS b4, ROUND(B8A, 9) AS b8a,
       ROUND(B11, 9) AS b11, SCL AS scl, aoi_pixels
FROM read_parquet('{_g("oracle_pixels")}')
WHERE inside
""",
        "geo_qi": f"""
WITH pct AS ({_qi_pct_sql()})
SELECT s.doc_id, s.aoi, s.tileid, s.assetid, s.productid,
       {", ".join(f"ROUND(pct.{c.lower()}, 9) AS {c.lower()}" for c in SCL_CLASSES)}
FROM read_parquet('{_g("scenes")}') s LEFT JOIN pct USING (doc_id)
""",
        "geo_qi_filter": f"""
WITH {_survivor_cte()}
SELECT doc_id, aoi, tileid, productid FROM surv
""",
        "geo_tile_mode": f"""
SELECT aoi, tileid FROM (
  SELECT aoi, tileid,
         row_number() OVER (PARTITION BY aoi
                            ORDER BY count(*) DESC, tileid ASC) AS rn
  FROM read_parquet('{_g("scenes")}') GROUP BY aoi, tileid)
WHERE rn = 1
""",
        "geo_dedup": f"""
SELECT doc_id, aoi, productid, processing FROM (
  SELECT doc_id, aoi, productid, processing,
         row_number() OVER (
             PARTITION BY aoi, productid
             ORDER BY CASE WHEN processing LIKE '%sentinel-2-c1-l2a-to-stac%'
                      THEN 0 ELSE 1 END, assetid) AS rn
  FROM read_parquet('{_g("scenes")}'))
WHERE rn = 1
""",
        "geo_ndvi_timeseries": _ts_stats_sql(
            "(B8A - B4) / (B8A + B4)", "ndvi", snap=False, digits=6),
        "geo_lai_pixels": f"""
SELECT p.doc_id, p.x, p.y, ROUND({snap_lai}, 5) AS lai
FROM read_parquet('{_g("oracle_pixels")}') p
JOIN read_parquet('{_g("scenes")}') s USING (doc_id)
WHERE p.inside
""",
        "geo_lai_timeseries": _ts_stats_sql(snap_lai, "lai", snap=True, digits=5),
        "geo_vi_pixels": f"""
SELECT doc_id, x, y,
       ROUND((B8A - B4) / (B8A + B4), 6) AS ndvi,
       ROUND(B7 / B5 - 1, 6) AS ci_red_edge,
       ROUND(B3 / (B2 + B3 + B4), 6) AS gcc
FROM read_parquet('{_g("oracle_pixels")}')
WHERE inside
""",
        "geo_snap_all": f"""
SELECT p.doc_id, p.x, p.y,
       {", ".join(f"ROUND({snap_sql_expr(var)}, 5) AS {col}"
                  for var, col in BIOPHYS_COLUMN.items())}
FROM read_parquet('{_g("oracle_pixels")}') p
JOIN read_parquet('{_g("scenes")}') s USING (doc_id)
WHERE p.inside
""",
        "geo_cell_join": f"""
SELECT doc_id, x, y, aoi
FROM read_parquet('{_g("oracle_pixels")}')
WHERE inside
""",
        "geo_knn_fill": f"""
WITH px AS (
  SELECT doc_id, x, y, B4 FROM read_parquet('{_g("oracle_pixels")}')
  WHERE inside
),
miss AS (SELECT doc_id, x, y FROM px WHERE B4 IS NULL),
good AS (SELECT doc_id, x, y, B4 FROM px WHERE B4 IS NOT NULL),
nb AS (
  SELECT m.doc_id, m.x, m.y, g.B4 AS gv,
         sqrt((m.x-g.x)*(m.x-g.x) + (m.y-g.y)*(m.y-g.y)) AS d,
         row_number() OVER (
             PARTITION BY m.doc_id, m.x, m.y
             ORDER BY (m.x-g.x)*(m.x-g.x) + (m.y-g.y)*(m.y-g.y),
                      g.x, g.y) AS rn
  FROM miss m JOIN good g ON m.doc_id = g.doc_id
)
SELECT doc_id, x, y,
       ROUND(SUM(gv / GREATEST(d, 1e-9)) / SUM(1.0 / GREATEST(d, 1e-9)), 9)
           AS b4
FROM nb WHERE rn <= 4
GROUP BY doc_id, x, y
""",
        "geo_hot_tile_counts": f"""
SELECT tileid, count(*) AS n FROM read_parquet('{_g("scenes")}')
GROUP BY tileid
""",
        "emb_cosine_pairs": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= {NEARDUP_TAU}
""",
        "geo_ragged_drop": f"""
WITH c AS (
  SELECT doc_id,
         len(list_filter(spans, s -> s.media_ref LIKE '%/B2/%')) AS n_b2,
         len(list_filter(spans, s -> s.media_ref LIKE '%/B3/%')) AS n_b3,
         len(list_filter(spans, s -> s.media_ref LIKE '%/B4/%')) AS n_b4,
         len(list_filter(spans, s -> s.media_ref LIKE '%/B8/%')) AS n_b8,
         len(list_filter(spans, s -> s.media_ref LIKE '%/B5/%')) AS n_b5,
         len(list_filter(spans, s -> s.media_ref LIKE '%/B6/%')) AS n_b6,
         len(list_filter(spans, s -> s.media_ref LIKE '%/B7/%')) AS n_b7,
         len(list_filter(spans, s -> s.media_ref LIKE '%/B8A/%')) AS n_b8a,
         len(list_filter(spans, s -> s.media_ref LIKE '%/B11/%')) AS n_b11,
         len(list_filter(spans, s -> s.media_ref LIKE '%/B12/%')) AS n_b12,
         len(list_filter(spans, s -> s.media_ref LIKE '%/SCL/%')) AS n_scl
  FROM read_parquet('{_ragged_docs_glob()}')
)
SELECT doc_id, n_b3, n_b4, n_b5, n_scl FROM c
WHERE n_b3 = n_b2 AND n_b4 = n_b2 AND n_b8 = n_b2 AND n_b6 = n_b5 AND n_b7 = n_b5 AND n_b8a = n_b5 AND n_b11 = n_b5 AND n_b12 = n_b5 AND n_scl = n_b5
""",
        # DuckDB recomputes the cell id from (x, y) independently
        "geo_dem_lookup": f"""
SELECT p.doc_id, p.x, p.y, d.elevation
FROM (SELECT doc_id, x, y,
             CAST(floor(y / 160.0) AS BIGINT) * 4294967296
             + CAST(floor(x / 160.0) AS BIGINT) % 4294967296 AS cell
      FROM read_parquet('{_g("oracle_pixels")}') WHERE inside) p
LEFT JOIN read_parquet('{_g("dem")}') d USING (cell)
""",
        "geo_zorder_key": f"""
SELECT doc_id, x, y, {SP.zorder_key_sql('x', 'y')} AS zkey
FROM read_parquet('{_g("oracle_pixels")}') WHERE inside
""",
        # oracle reads the detector arrays from the INDEPENDENT flat scenes
        # dimension; the engine parses them out of the span text
        "geo_angle_means": f"""
SELECT doc_id,
       ROUND(list_aggregate(view_azimuth_detectors, 'sum')
             / len(view_azimuth_detectors), 9) AS va_mean,
       ROUND(list_aggregate(view_zenith_detectors, 'sum')
             / len(view_zenith_detectors), 9) AS vz_mean,
       ROUND(view_azimuth, 9) AS va_scalar,
       ROUND(view_zenith, 9) AS vz_scalar
FROM read_parquet('{_g("scenes")}')
""",
        # F6-F8 recomputed from the flat scenes dimension (independent of
        # the engine's span-JSON parse path)
        "geo_scene_identity": f"""
SELECT doc_id,
       productid,
       split_part(productid, '_', 1) AS mission,
       split_part(productid, '_', 2) AS level,
       strptime(split_part(productid, '_', 3), '%Y%m%dT%H%M%S')
         AS sensing_time,
       CAST(regexp_extract(productid, '_T([0-9]{{2}})[A-Z]{{3}}_', 1) AS INT)
         AS utm_zone,
       regexp_extract(productid, '_T[0-9]{{2}}([A-Z])[A-Z]{{2}}_', 1)
         AS lat_band,
       regexp_extract(productid, '_T[0-9]{{2}}[A-Z]([A-Z]{{2}})_', 1)
         AS grid_square,
       regexp_extract(productid, '_T([0-9A-Z]{{5}})_', 1) AS tileid_composed,
       tileid,
       'EPSG:' || regexp_extract(projection, '([0-9]+)$', 1) AS projection,
       CAST(regexp_extract(projection, '([0-9]+)$', 1) AS INT) AS epsg
FROM read_parquet('{_g("scenes")}')
""",
        # the LSH path is exact up to astronomically small banding-miss
        # probability (<= 1e-8/pair at this tau) — same oracle as the
        # brute-force pair join
        "emb_lsh_pairs": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= {NEARDUP_TAU}
""",
        "geo_span_roundtrip": f"""
SELECT doc_id, len(spans) AS n_spans,
       md5(array_to_string(list_transform(spans,
           s -> s.kind || chr(31) || s.text || chr(31) || s.media_ref),
           chr(30))) AS digest
FROM read_parquet('{_g("docs")}')
""",
        "geo_media_stats": M.media_span_stats_sql(_g("docs")),
        "docs_exact_dedup": f"""
WITH fp AS ({TX.fingerprint_sql()})
SELECT doc_id, fingerprint,
       min(doc_id) OVER (PARTITION BY fingerprint) AS keeper,
       (count(*) OVER (PARTITION BY fingerprint)) > 1 AS is_duplicate
FROM fp
""",
        "docs_jaccard_pairs": D.jaccard_pairs_sql(
            n=JACCARD_N, threshold=JACCARD_T),
        "docs_minhash_pairs": D.jaccard_pairs_sql(
            n=JACCARD_N, threshold=JACCARD_T),
        "docs_dup_components": D.components_sql(
            D.jaccard_pairs_sql(n=JACCARD_N, threshold=JACCARD_T)),
        "docs_pagerank": GR.pagerank_sql(
            D.jaccard_pairs_sql(n=JACCARD_N, threshold=JACCARD_T),
            iters=3),
        "docs_triangles": GR.triangle_count_sql(
            D.jaccard_pairs_sql(n=JACCARD_N, threshold=JACCARD_T)),
        "docs_kmv_distinct": SKETCH.kmv_distinct_sql("documents", k=256),
        "docs_line_dedup": TX.line_dedup_sql(
            "documents", words_per_line=10, max_occurrences=1),
        "docs_kmv_by_lang": SKETCH.kmv_distinct_by_sql(
            "documents", group_col="lang", k=64),
        "geo_scl_pivot": CHK.pivot_counts_sql(
            f"SELECT doc_id, SCL FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside",
            "SCL", values=list(range(12)), keys=("doc_id",),
            prefix="scl_"),
        "docs_quality_pctile": TX.quality_percentiles_sql("documents"),
        "docs_fuzzy_pairs": TX.fuzzy_token_pairs_sql("documents",
                                                     max_dist=2),
        "docs_char_entropy": TX.char_entropy_sql("documents"),
        "docs_bpe_merges": TX.bpe_merges_sql("documents", n_merges=8),
        "docs_bpe_encode": TX.bpe_encode_sql("documents", n_merges=8),
        "events_transitions": TEMPORAL.transition_counts_sql("events"),
        "geo_hillshade": SP.hillshade_sql(_g("dem"), cell_m=CELL_SIZE_M),
        "geo_aoi_metrics": SP.polygon_metrics_sql(
            f"""SELECT json_extract_string(s.text, '$.name') AS aoi,
                       MIN(json_extract(s.text, '$.geometry')::VARCHAR)
                         AS geom
                FROM read_parquet('{_g("docs")}'), unnest(spans) u(s)
                WHERE s.kind = 'text'
                  AND CASE WHEN s.kind = 'text'
                      THEN json_extract_string(s.text, '$.type') END
                      = 'aoi'
                GROUP BY 1""",
            geom_col="geom", name_col="aoi"),
        "events_cusum": TEMPORAL.cusum_alarms_sql(
            "(SELECT user_id, ts, value FROM events)",
            key_cols=("user_id",)),
        "geo_ndvi_sg": TEMPORAL.sg_smooth_sql(
            f"""SELECT aoi, strftime(acquisition_time, '%Y-%m-%d')
                         AS date_str,
                       ROUND(SUM((B8A - B4) / (B8A + B4))
                             / COUNT((B8A - B4) / (B8A + B4)), 6)
                         AS mean_ndvi
                FROM read_parquet('{_g("oracle_pixels")}') WHERE inside
                GROUP BY aoi, date_str""",
            key_cols=("aoi",), time_col="date_str",
            value_col="mean_ndvi", out_col="ndvi_sg"),
        "geo_zonal_stats": SP.zonal_stats_sql(
            f"""SELECT CAST(floor(y / {CELL_SIZE_M!r}) AS BIGINT)
                       * 4294967296
                       + CAST(floor(x / {CELL_SIZE_M!r}) AS BIGINT)
                         % 4294967296 AS cell,
                       B4, B8A
                FROM read_parquet('{_g("oracle_pixels")}') WHERE inside""",
            f"""SELECT cell,
                       CAST(floor(elevation / 50.0) AS BIGINT) AS zone
                FROM read_parquet('{_g("dem")}')""",
            "(B8A - B4) / (B8A + B4)"),
        "geo_scl_coarse_mode": SP.categorical_mode_grid_sql(
            f"SELECT x, y, SCL FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside", value_col="SCL", size_m=40.0),
        "events_skew_report": CHK.skew_report_sql("events", "user_id"),
        "docs_binned_quantiles": CHK.binned_quantiles_sql(
            "documents", "n_chars", 0.0, 2000.0, n_bins=200),
        "docs_snapshot_diff": f"""
SELECT doc_id, status,
       COALESCE(array_to_string(changed_cols, ','), '') AS changed_cols
FROM ({CHK.snapshot_diff_sql(
            "SELECT doc_id, lang, n_chars FROM documents",
            '''SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
       n_chars
FROM documents WHERE doc_id % 13 <> 0
UNION ALL
SELECT doc_id + 1000000 AS doc_id, lang, n_chars
FROM documents WHERE doc_id % 17 = 0''',
            key="doc_id", compare_cols=("lang", "n_chars"))}) t
""",
        "docs_dup_keeper": D.dup_keeper_sql(
            D.components_sql(
                D.jaccard_pairs_sql(n=JACCARD_N, threshold=JACCARD_T)),
            TX.quality_score_sql()),
        # brute-force kNN oracle: cross join + ranked window — an
        # independent algorithm vs the engine's cell-bucketed candidates
        "geo_knn_join": f"""
WITH kpx AS (SELECT doc_id, x, y
             FROM read_parquet('{_g("oracle_pixels")}') WHERE inside),
kst AS (SELECT cell AS station_id,
               (cell % 4294967296 + 0.5) * 160.0 AS sx,
               (CAST(floor(cell / 4294967296.0) AS BIGINT) + 0.5) * 160.0
                 AS sy
        FROM read_parquet('{_g("dem")}')),
kpairs AS (
  SELECT p.doc_id, p.x, p.y, s.station_id,
         sqrt((p.x - s.sx) * (p.x - s.sx)
              + (p.y - s.sy) * (p.y - s.sy)) AS d
  FROM kpx p CROSS JOIN kst s
)
SELECT doc_id, x, y, station_id, ROUND(d, 6) AS dist,
       knn_rank, FALSE AS truncated
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, x, y
                                   ORDER BY d ASC, station_id ASC)
               AS knn_rank
      FROM kpairs) t
WHERE knn_rank <= 3
""",
        # closure over the EXACT brute-force cosine pair set (the LSH
        # path's recall contract), columns adapted to the shared
        # components oracle
        "emb_dup_clusters": """
SELECT doc_id AS vec_id, component FROM (
""" + D.components_sql("""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= """ + repr(NEARDUP_TAU)) + """
) t
""",
        "docs_pmi_bigrams": TX.pmi_bigrams_sql("documents",
                                               min_count=5, k=50),
        "docs_lang_id": TX.lang_id_sql(),
        "docs_quality": TX.quality_score_sql(),
        "docs_token_stats": TX.token_stats_sql(),
        "docs_winnow_fp": TX.winnow_fingerprints_sql(),
        "docs_doc_frequency": TX.doc_frequency_sql(),
        "docs_tfidf_topk": TX.tfidf_topk_sql(k=5),
        "docs_hash_split": SAMP.hash_split_sql(columns="doc_id"),
        "docs_stratified_sample": SAMP.stratified_sample_sql(
            fractions=STRAT_FRACS, columns="doc_id, lang, source"),
        "docs_global_order": SAMP.global_row_number_sql(
            "(SELECT doc_id, len(regexp_extract_all(text, '\\S+'))"
            " AS n_tokens FROM documents)",
            "n_tokens DESC, doc_id", columns="doc_id, n_tokens"),
        "docs_quality_quantiles": TX.quality_quantiles_sql(),
        "docs_repetition": TX.repetition_stats_sql(),
        "docs_pack": SAMP.pack_sequences_sql(seq_len=512, n_shards=8),
        "docs_redact": TX.redact_pii_sql(),
        "docs_decontaminate": D.decontaminate_sql(
            bench_where=SAMP.portable_hash_sql("doc_id") + " % 10 = 0", n=5),
        "docs_train_pipeline": _corpus_pipeline_sql(),
        "emb_cosine_topk": SIM.cosine_topk_sql(QUERY_VEC_IDS, k=10),
        "events_asof_join": """
WITH l AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
     r AS (SELECT user_id, ts, event_id, value FROM events
           WHERE event_type = 'error')
SELECT l.event_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS time_str, l.value,
       r.event_id AS ref_event_id,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS ref_time_str,
       ROUND(epoch(l.ts) - epoch(r.ts), 3) AS lag_seconds
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""",
        "events_range_join": """
WITH l AS (SELECT event_id, ts FROM events WHERE event_type = 'error'),
     r AS (SELECT event_id, ts FROM events WHERE event_type = 'click')
SELECT l.event_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS time_str,
       r.event_id AS r_event_id,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS r_time_str,
       ROUND(epoch(l.ts) - epoch(r.ts), 3) AS dt_seconds
FROM l JOIN r ON abs(epoch(l.ts) - epoch(r.ts)) <= 60.0
""",
        "events_hourly": """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       count(*) AS n,
       ROUND(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
""",
        "events_sessionize": f"""
SELECT user_id, session_seq, count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       ROUND((max(epoch_us(ts)) - min(epoch_us(ts))) / 1e6, 6)
         AS duration_seconds,
       ROUND(sum(value), 6) AS sum_value
FROM ({TEMPORAL.sessionize_sql("events", key=("user_id",),
                               gap_seconds=SESSION_GAP_S)}) s
GROUP BY user_id, session_seq
""",
        "events_grid_fill": f"""
SELECT user_id, strftime(tick_ts, '%Y-%m-%d %H:%M:%S') AS tick,
       ref_event_id, ROUND(ref_value, 6) AS ref_value
FROM ({TEMPORAL.time_grid_fill_sql(
    "events", key=("user_id",), step_seconds=GRID_STEP_S,
    right_cols=("event_id", "value"))}) t
""",
        "events_interp": f"""
SELECT user_id, strftime(tick_ts, '%Y-%m-%d %H:%M:%S') AS tick,
       ROUND(interp_value, 6) AS interp_value
FROM ({TEMPORAL.interpolate_to_grid_sql(
    "events", key=("user_id",), step_seconds=GRID_STEP_S)}) t
""",
        "events_anomaly": f"""
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       ROUND(value, 6) AS value, CAST(n_prev AS INT) AS n_prev,
       ROUND(z, 6) AS z, is_anomaly
FROM ({TEMPORAL.rolling_zscore_sql(
    "events", key=("user_id",), window=24, min_periods=8, z_thresh=2.5,
    columns="user_id, ts, value")}) t
""",
        "docs_wrs_sample": SAMP.wrs_sample_sql(
            "documents", "n_chars", n=120,
            columns="doc_id, lang, n_chars"),
        "events_ewma": f"""
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       ROUND(value, 6) AS value, ROUND(ewma, 6) AS ewma
FROM ({TEMPORAL.ewma_sql("events", key=("user_id",), alpha=0.3,
                         window=12, columns="user_id, ts, value")}) t
""",
        "events_funnel": TEMPORAL.funnel_sql(
            "events", steps=["view", "click", "purchase"]),
        "events_retention": TEMPORAL.retention_sql("events"),
        "events_rollup": TEMPORAL.rollup_counts_sql("events"),
        "events_concurrency": TEMPORAL.concurrency_daily_sql("events"),
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_base,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)
         AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
         AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "events_latest": """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       event_type, ROUND(value, 6) AS value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC)
             AS rn
      FROM events) t
WHERE rn = 1
""",
        "sales_topk": """
SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate > DATE '1995-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey LIMIT 10
""",
        "fk_violations": """
SELECT 'orders.o_custkey->customer' AS fk_edge,
       (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
       AS n_orphans
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'lineitem.l_partkey->part',
       (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'customer.c_nationkey->nation',
       (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
""",
        "events_kmv_daily": SKETCH.kmv_distinct_keys_sql(
            "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,"
            " user_id FROM events",
            group_col="day", key_col="user_id", k=64),
        # stations derived from the DEM dimension by the same cell-center
        # decode; the oracle is a BRUTE-FORCE cross join with the exact
        # predicate — an independent algorithm, not the engine's
        # cell-bucketed candidate generation
        "geo_distance_join": f"""
SELECT p.doc_id, p.x, p.y, s.station_id,
       ROUND(sqrt((p.x - s.sx) * (p.x - s.sx)
                  + (p.y - s.sy) * (p.y - s.sy)), 6) AS dist
FROM (SELECT doc_id, x, y FROM read_parquet('{_g("oracle_pixels")}')
      WHERE inside) p
CROSS JOIN (SELECT cell AS station_id,
                   (cell % 4294967296 + 0.5) * 160.0 AS sx,
                   (CAST(floor(cell / 4294967296.0) AS BIGINT) + 0.5)
                   * 160.0 AS sy
            FROM read_parquet('{_g("dem")}')) s
WHERE (p.x - s.sx) * (p.x - s.sx) + (p.y - s.sy) * (p.y - s.sy)
      <= 400.0 * 400.0
""",
        "docs_pps_sample": f"""
SELECT doc_id, lang, n_chars, sample_bucket,
       ROUND(include_prob, 9) AS include_prob
FROM ({SAMP.pps_sample_sql(weight_col="n_chars", ref_weight=PPS_REF_CHARS,
                           columns="doc_id, lang, n_chars")}) t
""",
        "geo_focal_mean": f"""
SELECT doc_id, ix, iy, n_neigh, ROUND(focal_mean, 6) AS focal_ndvi
FROM ({SP.focal_stats_sql(f'''
SELECT p.doc_id,
       CAST(FLOOR(p.x / s.target_gsd) AS BIGINT) AS ix,
       CAST(FLOOR(p.y / s.target_gsd) AS BIGINT) AS iy,
       p.B4, p.B8A
FROM read_parquet('{_g("oracle_pixels")}') p
JOIN read_parquet('{_g("scenes")}') s USING (doc_id)
WHERE p.inside''', "(B8A - B4) / (B8A + B4)")}) f
""",
        "docs_expectations": CHK.expectations_sql(
            "documents", _docs_expectation_suite()),
        "docs_drift": f"""
SELECT source, n_rows, ROUND(entropy, 6) AS entropy,
       ROUND(kl_vs_global, 6) AS kl_vs_global,
       ROUND(tv_dist, 6) AS tv_dist
FROM ({CHK.drift_metrics_sql("documents", "source", "lang")}) t
""",
        "docs_profile": f"""
SELECT "column", dtype, n_rows, n_nonnull, n_distinct, min_s, max_s,
       ROUND(mean_num, 6) AS mean_num
FROM ({TX.profile_sql("documents", columns=PROFILE_COLS,
                      numeric=("doc_id", "n_chars"),
                      dtypes=PROFILE_DTYPES)}) t
""",
        "geo_cell_pyramid": f"""
SELECT level, cx, cy, n,
       ROUND(sum_v, 6) AS sum_ndvi, ROUND(min_v, 6) AS min_ndvi,
       ROUND(max_v, 6) AS max_ndvi, ROUND(mean_v, 6) AS mean_ndvi
FROM ({SP.cell_pyramid_sql(f'''
SELECT x, y, B4, B8A FROM read_parquet('{_g("oracle_pixels")}')
WHERE inside''', "(B8A - B4) / (B8A + B4)", levels=4, base_m=20.0)}) t
""",
        # One-shot full aggregate — equality with the engine's two-phase
        # merge proves the incremental-maintenance identity.
        "geo_ts_incremental": f"""
WITH v AS (
  SELECT aoi, strftime(acquisition_time, '%Y-%m-%d') AS date_str,
         (B8A - B4) / (B8A + B4) AS v
  FROM read_parquet('{_g("oracle_pixels")}')
  WHERE inside
)
SELECT aoi, date_str, COUNT(v) AS n,
       ROUND(SUM(v) / COUNT(v), 6) AS mean_ndvi,
       ROUND(sqrt(GREATEST(
           SUM(v * v) / COUNT(v) - (SUM(v) / COUNT(v)) ^ 2, 0.0)), 6)
         AS std_ndvi,
       ROUND(MIN(v), 6) AS min_ndvi,
       ROUND(MAX(v), 6) AS max_ndvi
FROM v GROUP BY aoi, date_str
""",
        "geo_gradient": f"""
SELECT doc_id, ix, iy, n_neigh, ROUND(gx, 6) AS gx, ROUND(gy, 6) AS gy,
       ROUND(sqrt(gx * gx + gy * gy), 6) AS grad_mag
FROM ({SP.focal_conv_sql(f'''
SELECT p.doc_id,
       CAST(FLOOR(p.x / s.target_gsd) AS BIGINT) AS ix,
       CAST(FLOOR(p.y / s.target_gsd) AS BIGINT) AS iy,
       p.B4, p.B8A
FROM read_parquet('{_g("oracle_pixels")}') p
JOIN read_parquet('{_g("scenes")}') s USING (doc_id)
WHERE p.inside''', "(B8A - B4) / (B8A + B4)",
                         {"gx": SP.SOBEL_GX, "gy": SP.SOBEL_GY})}) f
""",
        # SimHash is exactly SQL-expressible: the 4x16 banding is lossless
        # for Hamming <= 3 (pigeonhole), so the output is precisely "all
        # pairs at distance <= k" and the md5 bit-majority kernel
        # reproduces in DuckDB (see simhash_near_pairs_sql).
        "docs_simhash_pairs": D.simhash_near_pairs_sql(max_hamming=3),
        # The multimodal stand-in features are pure md5 arithmetic (see
        # media._fake_features), so the whole plumbing path — span
        # explode, Arrow batching, per-dim feature emission — is
        # value-checked in SQL. Only the real decode kernel itself is
        # stubbed (no imaging libs in this environment).
        "media_features": f"""
WITH m AS (
  SELECT doc_id,
         unnest(list_transform(list_filter(spans, s -> s.kind = 'media'),
                               s -> s.media_ref)) AS media_ref
  FROM read_parquet('{_g("docs")}')
)
SELECT doc_id, media_ref, CAST(r.j AS INT) AS dim_idx,
       ROUND(CAST(CAST('0x' || substr(md5(media_ref || ':' || r.j), 1, 16)
                  AS UBIGINT) AS DOUBLE) / 18446744073709551616.0, 9)
         AS feature_val
FROM m CROSS JOIN range({MEDIA_DIM}) r(j)
""",
        # IVF with the portable seed and no Lloyd is exact relational
        # math — the oracle re-runs the same algorithm in SQL (recall vs
        # brute force remains a pytest property, not a SQL one).
        "emb_ann_ivf": SIM.ivf_topk_sql(QUERY_VEC_IDS, k=10),
        "emb_pca_cov": SIM.covariance_entries_sql("embeddings", dim=64),
        # PQ with the portable seed is exact relational math — verbatim
        # same-algorithm oracle, like emb_ann_ivf.
        "emb_pq_topk": SIM.pq_topk_sql(QUERY_VEC_IDS, k=10),
        "docs_bm25": TX.bm25_topk_sql("documents", BM25_QUERY, k=25),
        "docs_histogram": f"""
SELECT bin, ROUND(bin_lo, 6) AS bin_lo, ROUND(bin_hi, 6) AS bin_hi, n
FROM ({CHK.histogram_sql("documents", "n_chars", 0.0, 2000.0,
                         n_bins=20)}) t
""",
        # plain-join oracle — equality proves the salted join rewires
        # only the physical distribution, not the result
        "docs_salted_join": """
WITH dim AS (
  SELECT lang, ROUND(AVG(n_chars), 6) AS lang_mean_chars
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars, dim.lang_mean_chars
FROM documents d JOIN dim USING (lang)
""",
        "docs_hybrid_rrf": SIM.rrf_fuse_sql([
            f"""SELECT doc_id, row_number() OVER (
                  ORDER BY bm25 DESC, doc_id ASC) AS rank
                FROM ({TX.bm25_topk_sql("documents", BM25_QUERY, k=25)}) b""",
            f"""SELECT neighbor_id AS doc_id, rank
                FROM ({cosine_topk_sql_one}) c""",
        ], k=10),
        "docs_lm_score": f"""
SELECT doc_id, n_ngrams, ROUND(avg_logp, 6) AS avg_logp,
       ROUND(ppl, 6) AS ppl
FROM ({TX.char_ngram_lm_scores_sql("documents", n=3)}) t
""",
        "geo_harmonic": TEMPORAL.harmonic_fit_sql(
            _ndvi_series_sql(), key_cols=("aoi",), time_col="date_str",
            value_col="mean_ndvi"),
        "geo_phenology": TEMPORAL.phenology_sql(
            _ndvi_series_sql(), key_cols=("aoi",), time_col="date_str",
            value_col="mean_ndvi"),
        "geo_moran": SP.morans_i_sql(
            f"""SELECT 'dem' AS doc_id,
       CAST(cell % 4294967296 AS BIGINT) AS ix,
       CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
       elevation
FROM read_parquet('{_g("dem")}')""",
            value_sql="elevation"),
        "geo_flowdir": SP.flow_direction_sql(_g("dem")),
        "geo_composite": SP.greenest_composite_sql(
            f"""SELECT x, y, doc_id,
       strftime(acquisition_time, '%Y-%m-%d') AS date_str,
       (B8A - B4) / (B8A + B4) AS ndvi, B4, B8A
FROM read_parquet('{_g("oracle_pixels")}') WHERE inside""",
            value_col="ndvi", time_col="date_str",
            tiebreak_col="doc_id", payload_cols=("B4", "B8A")),
        "geo_gstar": SP.getis_ord_gstar_sql(
            f"""SELECT 'dem' AS doc_id,
       CAST(cell % 4294967296 AS BIGINT) AS ix,
       CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
       elevation
FROM read_parquet('{_g("dem")}')""",
            value_sql="elevation"),
        "geo_mk_trend": TEMPORAL.mann_kendall_sql(
            _ndvi_series_sql(), key_cols=("aoi",), time_col="date_str",
            value_col="mean_ndvi"),
        "geo_emerging_hotspots": TEMPORAL.mann_kendall_sql(
            SP.gstar_by_doc_sql(
                f"""SELECT strftime(acquisition_time, '%Y-%m-%d') AS doc_id,
       CAST(FLOOR(x / 10) AS BIGINT) AS ix,
       CAST(FLOOR(y / 10) AS BIGINT) AS iy,
       ROUND(SUM((B8A - B4) / (B8A + B4))
             / COUNT((B8A - B4) / (B8A + B4)), 6) AS v
FROM read_parquet('{_g("oracle_pixels")}') WHERE inside
GROUP BY strftime(acquisition_time, '%Y-%m-%d'), ix, iy""",
                value_sql="v"),
            key_cols=("ix", "iy"), time_col="doc_id", value_col="gi_z"),
        "geo_variogram": SP.variogram_sql(_g("dem")),
        "geo_harmonic_anomaly": TEMPORAL.harmonic_anomaly_sql(
            _ndvi_series_sql(), key_cols=("aoi",), time_col="date_str",
            value_col="mean_ndvi"),
        "docs_chunks": TX.chunk_documents_sql("documents", window=32,
                                              overlap=8),
        "events_acf": TEMPORAL.acf_sql("events", key_cols=("user_id",)),
        "docs_mixture_weights": SAMP.mixture_weights_sql(
            "documents", group_col="lang", alpha=0.7,
            size_col="n_chars"),
        "geo_flowacc": SP.flow_accumulation_sql(_g("dem")),
        "geo_twi": SP.wetness_index_sql(_g("dem")),
        "geo_lisa": SP.local_morans_i_sql(
            f"""SELECT 'dem' AS doc_id,
       CAST(cell % 4294967296 AS BIGINT) AS ix,
       CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
       elevation
FROM read_parquet('{_g("dem")}')""",
            value_sql="elevation"),
        "geo_contours": SP.contour_segments_sql(_g("dem"),
                                                threshold=295.0),
        "events_interarrival": TEMPORAL.interarrival_stats_sql(
            "events", key_cols=("user_id",)),
        "events_entropy": TEMPORAL.event_entropy_sql(
            "events", key_cols=("user_id",)),
        "geo_resid_acf": TEMPORAL.acf_sql(
            f"""({TEMPORAL.harmonic_anomaly_sql(
                _ndvi_series_sql(), key_cols=('aoi',),
                time_col='date_str', value_col='mean_ndvi')}) ra_sub""",
            key_cols=("aoi",), time_col="date_str", value_col="resid"),
        "events_pettitt": TEMPORAL.pettitt_sql(
            "events", key_cols=("user_id",)),
        "events_seasonal": TEMPORAL.seasonal_decompose_sql(
            "SELECT event_type, CAST(ts AS DATE) AS day,"
            " CAST(COUNT(*) AS DOUBLE) AS v FROM events GROUP BY 1, 2",
            key_cols=("event_type",), time_col="day", value_col="v",
            period=7),
        "events_ccf": TEMPORAL.ccf_sql(
            "SELECT 'all' AS k, date_trunc('hour', ts) AS t,"
            " CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
            " AS DOUBLE) AS va,"
            " CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0"
            " END) AS DOUBLE) AS vb"
            " FROM events GROUP BY 2",
            key_cols=("k",)),
        "events_trigrams": TEMPORAL.event_trigrams_sql("events"),
        "geo_terrain_idx": SP.terrain_indices_sql(_g("dem")),
        "geo_ripley_k": SP.ripley_k_sql(
            f"SELECT doc_id, x, y FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside AND (B8 - B4) / (B8 + B4) > 0.6",
            key_cols=("doc_id",)),
        "orders_benford": CHK.benford_sql("orders", "o_totalprice"),
        "docs_spearman": CHK.spearman_corr_sql(
            "SELECT lang, CAST(n_chars AS DOUBLE) AS a,"
            " CAST(len(str_split(text, ' ')) AS DOUBLE) AS b"
            " FROM documents",
            ("lang",), "a", "b"),
        "events_seasonal_mk": TEMPORAL.seasonal_mann_kendall_sql(
            "events", key_cols=("user_id",),
            season_expr="date_diff('day', DATE '1970-01-01',"
                        " CAST(ts AS DATE)) % 7"),
        "geo_clark_evans": SP.clark_evans_sql(
            f"SELECT doc_id, x, y FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside AND (B8 - B4) / (B8 + B4) > 0.6",
            key_cols=("doc_id",)),
        "geo_kde": SP.kde_grid_sql(
            f"SELECT doc_id, x, y FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside AND (B8 - B4) / (B8 + B4) > 0.6",
            key_cols=("doc_id",)),
        "geo_knox": SP.knox_test_sql(
            "SELECT DISTINCT aoi, x, y,"
            " CAST(date_diff('day', DATE '1970-01-01',"
            " CAST(acquisition_time AS DATE)) AS DOUBLE) AS td"
            f" FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside AND (B8 - B4) / (B8 + B4) > 0.6",
            key_cols=("aoi",)),
        "docs_zipf": TX.zipf_fit_sql("documents"),
        "events_ab": CHK.ab_ztest_sql("events"),
        "geo_regions": SP.region_label_sql(
            "SELECT doc_id,"
            " CAST(FLOOR(x / 20.0) AS BIGINT) AS ix,"
            " CAST(FLOOR(y / 20.0) AS BIGINT) AS iy"
            f" FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside AND (B8 - B4) / (B8 + B4) > 0.6",
            key_cols=("doc_id",)),
        "geo_variogram_dir": SP.variogram_directional_sql(_g("dem")),
        "geo_stretch": SP.percentile_stretch_sql(
            "SELECT doc_id, x, y, B8 AS v"
            f" FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside",
            key_cols=("doc_id",)),
        "geo_idw": SP.idw_grid_sql(
            f"SELECT doc_id, x, y FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside",
            "SELECT cell AS station_id,"
            " (cell % 4294967296 + 0.5) * 160.0 AS sx,"
            " (CAST(floor(cell / 4294967296.0) AS BIGINT) + 0.5)"
            " * 160.0 AS sy, elevation"
            f" FROM read_parquet('{_g('dem')}')",
            radius=3 * CELL_SIZE_M, value_col="elevation"),
        "geo_gwr": SP.local_regression_sql(
            f"""SELECT d.ix, d.iy, d.elevation, p.mean_ndvi
FROM (SELECT CAST(cell % 4294967296 AS BIGINT) AS ix,
             CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
             elevation
      FROM read_parquet('{_g("dem")}')) d
JOIN (SELECT CAST(FLOOR(x / 160.0) AS BIGINT) AS ix,
             CAST(FLOOR(y / 160.0) AS BIGINT) AS iy,
             AVG((B8 - B4) / (B8 + B4)) AS mean_ndvi
      FROM read_parquet('{_g("oracle_pixels")}')
      WHERE inside GROUP BY 1, 2) p USING (ix, iy)""",
            x_col="elevation", y_col="mean_ndvi"),
        "geo_geary": SP.geary_c_sql(
            f"""SELECT 'dem' AS doc_id,
       CAST(cell % 4294967296 AS BIGINT) AS ix,
       CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
       elevation
FROM read_parquet('{_g("dem")}')""",
            value_sql="elevation"),
        "geo_join_counts": SP.join_counts_sql(
            f"""SELECT p.doc_id,
       CAST(FLOOR(p.x / s.target_gsd) AS BIGINT) AS ix,
       CAST(FLOOR(p.y / s.target_gsd) AS BIGINT) AS iy,
       p.B4, p.B8
FROM read_parquet('{_g("oracle_pixels")}') p
JOIN read_parquet('{_g("scenes")}') s USING (doc_id)
WHERE p.inside""",
            bool_sql="(B8 - B4) / (B8 + B4) > 0.6"),
        "geo_dbscan": f"""
SELECT doc_id, ix, iy, n_in_neigh, COALESCE(label, -1) AS label, role
FROM ({SP.grid_dbscan_sql(
            "SELECT doc_id,"
            " CAST(FLOOR(x / 20.0) AS BIGINT) AS ix,"
            " CAST(FLOOR(y / 20.0) AS BIGINT) AS iy"
            f" FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside AND (B8 - B4) / (B8 + B4) > 0.6",
            key_cols=("doc_id",), min_pts=4)}) t
""",
        "geo_shadow": SP.shadow_project_sql(
            f"SELECT doc_id, x, y, SCL FROM"
            f" read_parquet('{_g('oracle_pixels')}') WHERE inside",
            f"SELECT doc_id, target_gsd, sun_azimuth, sun_zenith"
            f" FROM read_parquet('{_g('scenes')}')",
            height_m=100.0, exclude_sources=False),
        "events_holt": TEMPORAL.holt_smooth_sql(
            "events", key_cols=("user_id",)),
        "geo_view_circular": CHK.circular_stats_sql(
            "SELECT doc_id, UNNEST(view_azimuth_detectors) AS az"
            f" FROM read_parquet('{_g('scenes')}')",
            angle_sql="az", key_cols=("doc_id",)),
        "geo_hexbin": SP.hexbin_sql(
            f"SELECT doc_id, x, y, B4, B8 FROM"
            f" read_parquet('{_g('oracle_pixels')}') WHERE inside",
            value_sql="(B8 - B4) / (B8 + B4)", size_m=40.0),
        "orders_rfm": SEG.rfm_segments_sql("orders", n_tiles=4),
        "lineitem_gini": SEG.gini_concentration_sql(
            "lineitem", key_col="l_suppkey",
            value_col="l_extendedprice"),
        "orders_basket": SEG.basket_pairs_sql("lineitem",
                                              min_support=3),
        "events_km": TEMPORAL.kaplan_meier_sql(
            "events", key="user_id", censor_horizon_days=7),
        "events_runs": TEMPORAL.runs_test_sql(
            "events", key_cols=("event_type",),
            order_cols=("ts", "event_id")),
        "events_mad": TEMPORAL.mad_anomaly_sql(
            "events", key_cols=("event_type",), threshold=3.5),
        "emb_silhouette": SIM.label_silhouette_sql("embeddings"),
        "emb_validity": SIM.cluster_validity_sql("embeddings"),
        "docs_dice_pairs": D.dice_pairs_sql(
            "documents", n=JACCARD_N, threshold=0.5),
        "docs_readability": TX.readability_sql("documents"),
        "geo_landform": SP.tpi_landform_sql(
            f"""SELECT p.doc_id,
       CAST(FLOOR(p.x / s.target_gsd) AS BIGINT) AS ix,
       CAST(FLOOR(p.y / s.target_gsd) AS BIGINT) AS iy,
       (p.B8 - p.B4) / (p.B8 + p.B4) AS v
FROM read_parquet('{_g("oracle_pixels")}') p
JOIN read_parquet('{_g("scenes")}') s USING (doc_id)
WHERE p.inside""",
            key="doc_id", r_small=1, r_large=3),
        "geo_patches": SP.patch_stats_sql(
            SP.region_label_sql(
                "SELECT doc_id,"
                " CAST(FLOOR(x / 20.0) AS BIGINT) AS ix,"
                " CAST(FLOOR(y / 20.0) AS BIGINT) AS iy"
                f" FROM read_parquet('{_g('oracle_pixels')}')"
                " WHERE inside AND (B8 - B4) / (B8 + B4) > 0.6",
                key_cols=("doc_id",)),
            key_cols=("doc_id",)),
        "geo_change": SP.change_detection_sql(
            f"""SELECT p.aoi,
       CAST(FLOOR(p.x / s.target_gsd) AS BIGINT) AS ix,
       CAST(FLOOR(p.y / s.target_gsd) AS BIGINT) AS iy,
       p.acquisition_time AS t,
       (p.B8 - p.B4) / (p.B8 + p.B4) AS v
FROM read_parquet('{_g("oracle_pixels")}') p
JOIN read_parquet('{_g("scenes")}') s USING (doc_id)
WHERE p.inside""",
            key_cols=("aoi",), threshold=0.05),
        "events_markov_entropy": TEMPORAL.markov_entropy_sql(
            "events", key="user_id"),
        "events_hurst": TEMPORAL.hurst_exponent_sql(
            "events", key_cols=("event_type",),
            order_cols=("ts", "event_id")),
        "docs_lexdiv": TX.lexical_diversity_sql("documents"),
        "orders_cohort": SEG.cohort_revenue_sql("orders"),
        "emb_mmr": SIM.mmr_select_sql(query_id=7, k=5, lam=0.7,
                                      pool=50, table="embeddings"),
        "events_peaks": TEMPORAL.peak_detect_sql(
            "events", key_cols=("event_type",),
            order_cols=("ts", "event_id"), min_delta=0.5),
        "geo_xcorr": SP.raster_xcorr_sql(
            _aoi_raster_sql("MIN"), _aoi_raster_sql("MAX"),
            key_cols=("aoi",), max_offset=2, min_overlap=16),
        "sales_hits": GR.hits_sql(
            "SELECT o_custkey AS src, l_partkey AS dst"
            " FROM orders JOIN lineitem ON l_orderkey = o_orderkey",
            iters=4),
        "docs_chi2": CHK.chi_square_independence_sql(
            "documents", "source", "lang"),
        "lineitem_abc": SEG.abc_analysis_sql(
            "lineitem", key_col="l_partkey",
            value_col="l_extendedprice"),
        "docs_term_dispersion": TX.term_dispersion_sql(
            "documents", min_df=5, top_k=50),
        "events_backtest": TEMPORAL.forecast_backtest_sql(
            "events", key_cols=("event_type",),
            order_cols=("ts", "event_id"), season=7),
        "geo_sieve": SP.sieve_filter_sql(
            "SELECT doc_id,"
            " CAST(FLOOR(x / 20.0) AS BIGINT) AS ix,"
            " CAST(FLOOR(y / 20.0) AS BIGINT) AS iy"
            f" FROM read_parquet('{_g('oracle_pixels')}')"
            " WHERE inside AND (B8 - B4) / (B8 + B4) > 0.6",
            key_cols=("doc_id",), min_size=4),
        "events_strength": TEMPORAL.seasonality_strength_sql(
            "SELECT event_type, CAST(ts AS DATE) AS day,"
            " CAST(COUNT(*) AS DOUBLE) AS v FROM events GROUP BY 1, 2",
            key_cols=("event_type",), time_col="day", value_col="v",
            period=7),
        "emb_outliers": SIM.label_outliers_sql(
            "embeddings", z_threshold=2.0),
        "events_welch": INF.welch_ttest_sql(
            "events", "user_id % 2", "value"),
        "events_anova": INF.anova_f_sql("events", "event_type", "value"),
        "docs_mwu": INF.mann_whitney_u_sql(
            "documents", "CAST(lang = 'en' AS INT)", "n_chars"),
        "docs_kruskal": INF.kruskal_wallis_sql(
            "documents", "lang", "n_chars"),
        "events_ks": INF.ks_test_sql("events", "user_id % 2", "value"),
        "events_psi": INF.psi_sql(
            "events", "CAST(ts >= TIMESTAMP '2024-01-16' AS INT)",
            "value", 0.0, 200.0, n_bins=10),
        "docs_roc_auc": ME.roc_auc_sql(
            "documents", _LABEL_EXPR, _SCORE_EXPR),
        "docs_calibration": ME.calibration_bins_sql(
            "documents", _LABEL_EXPR, _SCORE_EXPR, 0.0, 1.0, 10),
        "docs_brier": ME.brier_decomposition_sql(
            "documents", _LABEL_EXPR, _SCORE_EXPR, 0.0, 1.0, 10),
        "docs_gains": ME.cumulative_gains_sql(
            "documents", _LABEL_EXPR, _SCORE_EXPR, 10),
        "docs_mi": ME.mutual_information_sql(
            "documents", "lang", "source"),
        "docs_cramers_v": ME.cramers_v_sql("documents", "lang", "source"),
        "events_jsd": ME.js_divergence_sql(
            "events", "CAST(ts >= TIMESTAMP '2024-01-16' AS INT)",
            "event_type"),
        "docs_fdr": ME.bh_adjust_sql(
            ME.group_vs_rest_ttest_sql("documents", "lang", "n_chars"),
            key_col="lang", p_col="p_approx", alpha=0.05),
        "events_bootstrap": ME.poisson_bootstrap_mean_sql(
            "events", "value", "event_id", n_boot=64),
        "docs_avg_precision": ME.average_precision_sql(
            "documents", _LABEL_EXPR, _SCORE_EXPR),
        "docs_confusion": ME.confusion_at_threshold_sql(
            "documents", _LABEL_EXPR, _SCORE_EXPR, 0.5),
        "docs_kappa": ME.cohens_kappa_sql(
            "documents", "lang", _ANNOT_EXPR),
        "events_kendall": ME.kendall_tau_b_sql(
            "events", "CAST(EXTRACT(hour FROM ts) AS INT)",
            "CAST(FLOOR(value / 10.0) AS INT)"),
        "docs_woe_iv": ME.woe_iv_sql("documents", _LABEL_EXPR, "source"),
        "docs_fairness": ME.fairness_report_sql(
            "documents", _LABEL_EXPR,
            f"CAST({_SCORE_EXPR} >= 0.5 AS INT)", "source"),
        "events_conformal": ME.conformal_interval_sql(
            "events", _PRED_EXPR, "value", "event_id % 5 = 0",
            alpha=0.1),
        "docs_heavy_hitters": SKETCH.heavy_hitters_sql(
            "documents", "text", phi=0.03),
        "emb_retrieval_metrics": SIM.retrieval_metrics_sql(
            QUERY_VEC_IDS, k=10),
        "emb_ivf_recall": SIM.ann_recall_sql(
            SIM.ivf_topk_sql(QUERY_VEC_IDS, k=10),
            SIM.cosine_topk_sql(QUERY_VEC_IDS, k=10), k=10),
        "geo_domain_check": f"""
SELECT doc_id, x, y, CAST(in_domain AS INT) AS in_domain
FROM ({_domain_check_inner_sql()})
""",
        "geo_span_profile": _span_profile_oracle(),
        "events_cuped": INF.cuped_sql(
            "events", "user_id % 2", "value",
            "(0.8 * value + ((event_id * 69621) % 199) - 99)"),
        "docs_hosmer_lemeshow": ME.hosmer_lemeshow_sql(
            "documents", _LABEL_EXPR, _SCORE_EXPR, 0.0, 1.0, 10),
        "events_wilcoxon": INF.wilcoxon_signed_rank_sql(
            "events", _PRED_EXPR, "value"),
        "docs_mcnemar": ME.mcnemar_sql(
            "documents", f"CAST({_SCORE_EXPR} >= 0.5 AS INT)",
            f"CAST({_SCORE_EXPR} >= 0.55 AS INT)"),
        "events_bland_altman": ME.bland_altman_sql(
            "events", _PRED_EXPR, "value"),
        "emb_rbo": SIM.rank_biased_overlap_sql(
            SIM.ivf_topk_sql(QUERY_VEC_IDS, k=10),
            SIM.cosine_topk_sql(QUERY_VEC_IDS, k=10), k=10, p=0.9),
        "events_wasserstein": INF.wasserstein_1_sql(
            "events", "user_id % 2", "value"),
        "events_cohens_d": INF.cohens_d_sql(
            "events", "user_id % 2", "value"),
        "events_brown_forsythe": INF.brown_forsythe_sql(
            "events", "event_type", "value"),
        "docs_vocab_richness": TX.vocab_richness_sql("documents", "text"),
        "emb_adamic_adar": GR.adamic_adar_sql(
            _EMB_SIM_GRAPH_SQL, "vec_id_a", "vec_id_b"),
        "emb_kcore": GR.k_core_sql(
            _EMB_SIM_GRAPH_SQL, k=2, rounds=8,
            src_col="vec_id_a", dst_col="vec_id_b"),
        "events_ols_trend": ME.ols_fit_sql(
            "events", "value", "epoch(ts) / 86400.0", "event_type"),
        "docs_naive_bayes": TX.naive_bayes_predict_sql(
            "documents", "lang"),
        "docs_allpairs_jaccard": D.jaccard_pairs_sql(
            n=JACCARD_N, threshold=JACCARD_T),
        "emb_lpa": GR.label_propagation_sql(
            _EMB_SIM_GRAPH_SQL, rounds=4,
            src_col="vec_id_a", dst_col="vec_id_b"),
        "events_smd_balance": INF.smd_balance_sql(
            "events", "user_id % 2 = 1",
            ["value", "CAST(hour(ts) AS DOUBLE)", "value * value"]),
        "docs_rake": TX.rake_keywords_sql("documents", top_k=25),
        "events_covisitation": SEG.covisitation_sql("events"),
        "events_did": INF.diff_in_diff_sql(
            "events", "user_id % 2 = 1", "day(ts) > 15", "value"),
        "events_trimmed": INF.trimmed_stats_sql(
            "events", "value", "event_type", trim=0.05),
        "events_rank_int": INF.rank_inverse_normal_sql(
            "events", "value", "event_type"),
        "events_msprt": INF.msprt_monitor_sql(
            "events", "user_id % 2 = 1", "value"),
        "events_logrank": TEMPORAL.log_rank_test_sql(
            "events", "user_id % 2"),
        "events_poisson_rate": INF.poisson_rate_test_sql(
            "events", "user_id % 2 = 1", "event_type = 'error'"),
        "docs_qini": ME.qini_curve_sql(
            "documents", "doc_id % 2 = 1", "lang = 'en'", _SCORE_EXPR),
        "docs_ipw": INF.ipw_effect_sql(
            "documents", "doc_id % 2 = 1", "n_chars",
            f"0.2 + 0.6 * ({_SCORE_EXPR})"),
        "events_median_test": INF.median_test_sql(
            "events", "event_type", "value"),
        "docs_trend_test": INF.trend_test_sql(
            "documents", "CAST(FLOOR(n_chars / 100.0) AS INT)",
            "lang = 'en'"),
        "events_scd2": TEMPORAL.scd2_build_sql(
            "events", "user_id", "ts", ["event_type"]),
        "events_attribution": TEMPORAL.attribution_sql(
            "events", "event_type = 'purchase'",
            "event_type IN ('view', 'click')", 86400.0),
        "emb_bfs": GR.bfs_hops_sql(
            _EMB_SIM_GRAPH_SQL,
            "SELECT DISTINCT node FROM ("
            "SELECT vec_id_a AS node FROM (" + _EMB_SIM_GRAPH_SQL + ")"
            " UNION ALL SELECT vec_id_b AS node FROM ("
            + _EMB_SIM_GRAPH_SQL + ")) WHERE node % 7 = 0",
            max_hops=4, src_col="vec_id_a", dst_col="vec_id_b"),
        "events_haversine": SP.haversine_join_sql(
            "SELECT event_id, CAST(user_id % 360 AS DOUBLE) - 180.0 + 0.25"
            " AS lon, CAST((user_id * 7) % 120 AS DOUBLE) - 60.0 + 0.25"
            " AS lat FROM events",
            "SELECT id AS station_id,"
            " CAST((id * 61) % 360 AS DOUBLE) - 180.0 AS slon,"
            " CAST((id * 37) % 120 AS DOUBLE) - 60.0 AS slat"
            " FROM range(12) t(id)",
            radius_km=300.0),
    }
    # Formerly rows-only queries, upgraded to VALUE-checked oracles:
    # expected outputs re-computed by independent implementations
    # (Jarvis hull, recursive DP, plain S-H, brute-force kriging kNN,
    # minimax isotonic, full-matrix DTW, dense-matrix IRLS) and written
    # to ground-truth parquet — see satellitetools_spark/groundtruth.py.
    for _name in ("geo_hull", "geo_simplify", "geo_clip", "geo_kriging",
                  "docs_isotonic", "events_dtw", "docs_logistic"):
        oracles[_name] = f"SELECT * FROM read_parquet('{_gt(_name)}')"
    return oracles
