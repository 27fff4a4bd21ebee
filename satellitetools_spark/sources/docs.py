"""Interleaved-document source: span explode, parse, re-assembly.

The scan target is the driver-mandated table shape
``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
The per-row invariant is *span-sequence equality*: after any engine
round-trip, each document must reassemble to the same (kind, text,
media_ref) sequence in offset order (W4 in SURVEY §2.5).

Everything here is declarative DataFrame API so Catalyst can prune columns
and push ``kind``/``media_ref`` predicates into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
]))

# scene-metadata text span (reference Sentinel2Metadata, sentinel2.py:306-379)
SCENE_META_SCHEMA = T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("productid", T.StringType()),
    T.StructField("assetid", T.StringType()),
    T.StructField("tileid", T.StringType()),
    T.StructField("acquisition_time", T.StringType()),
    T.StructField("projection", T.StringType()),
    T.StructField("datasource", T.StringType()),
    T.StructField("processing", T.StringType()),
    T.StructField("sun_azimuth", T.DoubleType()),
    T.StructField("sun_zenith", T.DoubleType()),
    T.StructField("view_azimuth", T.DoubleType()),
    T.StructField("view_zenith", T.DoubleType()),
    # raw per-detector view-angle arrays (the granule-XML form the
    # reference averages, aws.py:685-727); NULL on documents that only
    # carry pre-averaged scalars
    T.StructField("view_azimuth_detectors", T.ArrayType(T.DoubleType())),
    T.StructField("view_zenith_detectors", T.ArrayType(T.DoubleType())),
])


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan the document table (parquet layout stands in for Iceberg; the
    scan + pruning semantics are identical for this engine's purposes)."""
    return spark.read.parquet(path)


def explode_spans(docs: DataFrame) -> DataFrame:
    """Long span table: (doc_id, kind, text, media_ref, offset)."""
    s = docs.select("doc_id", F.explode("spans").alias("s"))
    return s.select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset",
    )


def reassemble_documents(spans: DataFrame) -> DataFrame:
    """Rebuild (doc_id, spans) from the long table, in offset order.

    ``array_sort`` on structs with ``offset`` first restores span order
    without a window shuffle-sort per document.
    """
    packed = spans.select(
        "doc_id",
        F.struct("offset", "kind", "text", "media_ref").alias("os"),
    )
    return (
        packed.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("os")).alias("ordered"))
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda o: F.struct(
                    o["kind"].alias("kind"),
                    o["text"].alias("text"),
                    o["media_ref"].alias("media_ref"),
                    o["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


AOI_META_SCHEMA = T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("crs", T.StringType()),
    T.StructField("utm_zone", T.IntegerType()),
    T.StructField("target_gsd", T.DoubleType()),
    T.StructField("qi_evaluation_scale", T.DoubleType()),
])


def _text_spans(*span_types: str) -> list:
    """The text of each document's first text span whose JSON ``$.type``
    is each of ``span_types`` (NULL when there is none), located inside
    the ``spans`` array with ``filter`` lambdas."""
    texts = F.filter("spans", lambda s: s["kind"] == F.lit("text"))
    return [F.element_at(
        F.filter(texts, lambda s: F.get_json_object(s["text"], "$.type")
                 == F.lit(t)), 1)["text"] for t in span_types]


def _dim_columns() -> list:
    """Dimension column expressions computed from the ``spans`` array of the
    SAME row — a pure projection, no explode, no shuffle. The text spans are
    located inside the array with ``filter`` lambdas; each JSON document is
    parsed exactly once (``from_json``; the AOI geometry subtree is kept as
    raw JSON via one ``get_json_object``). The scan stays column-pruned to
    (doc_id, spans)."""
    meta_txt, aoi_txt = _text_spans("scene_meta", "aoi")
    m = F.from_json(meta_txt, SCENE_META_SCHEMA)
    a = F.from_json(aoi_txt, AOI_META_SCHEMA)
    return [
        a["name"].alias("aoi"),
        F.get_json_object(aoi_txt, "$.geometry").alias("aoi_geometry"),
        a["utm_zone"].alias("utm_zone"),
        a["target_gsd"].alias("target_gsd"),
        a["qi_evaluation_scale"].alias("qi_scale"),
        m["productid"].alias("productid"),
        m["assetid"].alias("assetid"),
        m["tileid"].alias("tileid"),
        F.to_timestamp(m["acquisition_time"]).alias("acquisition_time"),
        m["projection"].alias("projection"),
        m["datasource"].alias("datasource"),
        m["processing"].alias("processing"),
        m["sun_azimuth"].alias("sun_azimuth"),
        m["sun_zenith"].alias("sun_zenith"),
        m["view_azimuth"].alias("view_azimuth"),
        m["view_zenith"].alias("view_zenith"),
    ]


def doc_dimension(docs: DataFrame) -> DataFrame:
    """Per-document dimension row parsed from the text spans.

    Columns: scene metadata (typed), AOI name + geometry JSON + grid params.
    Implemented as a single narrow projection over the document rows
    (array ``filter`` + ``from_json`` inside whole-stage codegen) — zero
    shuffles; Catalyst prunes the parquet scan to (doc_id, spans).
    """
    return docs.select("doc_id", *_dim_columns())


def parse_scene_identity(docs: DataFrame) -> DataFrame:
    """F6–F8: derive the scene-identity fields from the RAW ``productid``
    string in the scene-metadata text span, the way the reference builds
    them from STAC item properties (aws.py:375-401):

    - F6 sensing timestamp: third ``_`` segment of the product id parsed
      with ``yyyyMMdd'T'HHmmss`` (aws.py:382-385);
    - F7 MGRS tile: decomposed from the ``_Txxxxx_`` segment into
      utm_zone / latitude_band / grid_square and re-composed by
      concatenation (aws.py:386-390);
    - F8 projection: numeric EPSG code extracted and normalized to
      ``EPSG:<code>``, falling back to the already-composed ``proj:code``
      string when no numeric code is present (aws.py:393-401, the
      pystac>=1.12 fallback).

    One codegen projection over the document row — array ``filter`` +
    single ``from_json``, no explode, no shuffle, no Python. The scan
    stays pruned to (doc_id, spans)."""
    [meta_txt] = _text_spans("scene_meta")
    m = F.from_json(meta_txt, SCENE_META_SCHEMA)
    pid = m["productid"]
    parts = F.split(pid, "_")
    utm_zone = F.regexp_extract(pid, "_T([0-9]{2})[A-Z]{3}_", 1).cast("int")
    lat_band = F.regexp_extract(pid, "_T[0-9]{2}([A-Z])[A-Z]{2}_", 1)
    grid_square = F.regexp_extract(pid, "_T[0-9]{2}[A-Z]([A-Z]{2})_", 1)
    epsg = F.regexp_extract(m["projection"], "([0-9]+)$", 1).cast("int")
    return docs.select(
        "doc_id",
        pid.alias("productid"),
        F.element_at(parts, 1).alias("mission"),
        F.element_at(parts, 2).alias("level"),
        F.to_timestamp(F.element_at(parts, 3), "yyyyMMdd'T'HHmmss")
        .alias("sensing_time"),
        utm_zone.alias("utm_zone"),
        lat_band.alias("lat_band"),
        grid_square.alias("grid_square"),
        F.concat(utm_zone.cast("string"), lat_band, grid_square)
        .alias("tileid_composed"),
        m["tileid"].alias("tileid"),
        F.coalesce(
            F.when(epsg.isNotNull(),
                   F.concat(F.lit("EPSG:"), epsg.cast("string"))),
            m["projection"]).alias("projection"),
        epsg.alias("epsg"),
    )


def observation_angle_means(docs: DataFrame) -> DataFrame:
    """F18: mean observation angles from the RAW per-detector arrays in the
    scene-metadata text span (the reference's granule-XML parse + mean,
    aws.py:685-727, re-expressed as one codegen projection: locate the span
    with an array ``filter``, parse once with ``from_json``, fold with
    ``aggregate`` — no explode, no shuffle, no Python).

    Output: doc_id, the scalar means recomputed from the arrays, and the
    pre-averaged scalars for comparison. NULL means on documents without
    detector arrays.
    """
    [meta_txt] = _text_spans("scene_meta")
    m = F.from_json(meta_txt, SCENE_META_SCHEMA)

    def arr_mean(arr):
        return F.aggregate(arr, F.lit(0.0),
                           lambda acc, v: acc + v) / F.size(arr)

    return docs.select(
        "doc_id",
        arr_mean(m["view_azimuth_detectors"]).alias("view_azimuth_mean"),
        arr_mean(m["view_zenith_detectors"]).alias("view_zenith_mean"),
        m["view_azimuth"].alias("view_azimuth"),
        m["view_zenith"].alias("view_zenith"),
    )


def span_profile(docs: DataFrame) -> DataFrame:
    """Interleaving profile of the (doc_id, spans[]) table — the
    corpus-shape readout for the interleaved text+media document model
    (`input_hint`: spans carry kind/text/media_ref/offset): per doc,
    span counts by kind, text payload size, the media fraction, the
    number of kind TRANSITIONS along the span sequence (how finely
    text and media interleave — 0 means segregated halves, n−1 means
    strict alternation), and the boundary kinds.

    Shape: every statistic is a JVM higher-order-function fold over
    the spans ARRAY in place — `filter`/`aggregate`/`zip_with` against
    `slice(spans, 2, …)` for the pairwise transitions — so the
    operator is MAP-ONLY: no explode, no shuffle, no Python; exactly
    the plan you want for a profile pass over 10^12 nested documents.
    """
    sp = F.col("spans")
    n = F.size(sp)
    texts = F.filter(sp, lambda s: s["kind"] == "text")
    n_text = F.size(texts)
    text_chars = F.aggregate(
        texts, F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]),
                                        F.lit(0)).cast("long"))
    shifted = F.slice(sp, 2, F.greatest(n - 1, F.lit(0)))
    transitions = F.size(F.filter(
        F.zip_with(sp, shifted,
                   lambda a, b: a["kind"] != b["kind"]),
        lambda x: x))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_spans"),
        n_text.cast("long").alias("n_text"),
        (n - n_text).cast("long").alias("n_media"),
        text_chars.alias("text_chars"),
        (F.round((n - n_text).cast("double") / n, 6) + 0.0)
        .alias("media_frac"),
        transitions.cast("int").alias("n_transitions"),
        sp[0]["kind"].alias("first_kind"),
        F.element_at(sp, -1)["kind"].alias("last_kind"))


def span_profile_sql(docs_glob: str) -> str:
    """DuckDB oracle: identical list-lambda folds over the spans list
    (1-based indexing; generate_series drives the pairwise scan)."""
    return f"""
SELECT doc_id,
       len(spans) AS n_spans,
       len(list_filter(spans, s -> s.kind = 'text')) AS n_text,
       len(spans) - len(list_filter(spans, s -> s.kind = 'text'))
         AS n_media,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(list_filter(spans, s -> s.kind = 'text'),
                             s -> CAST(COALESCE(length(s.text), 0)
                                       AS BIGINT))),
              (a, b) -> a + b) AS BIGINT) AS text_chars,
       ROUND(CAST(len(spans) - len(list_filter(spans,
                    s -> s.kind = 'text')) AS DOUBLE)
             / len(spans), 6) + 0.0 AS media_frac,
       CAST(len(list_filter(generate_series(1, len(spans) - 1),
                i -> spans[i].kind <> spans[i + 1].kind)) AS INT)
         AS n_transitions,
       spans[1].kind AS first_kind,
       spans[len(spans)].kind AS last_kind
FROM read_parquet('{docs_glob}')
"""
