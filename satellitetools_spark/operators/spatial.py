"""Standalone cell-equi spatial join: pixels × AOI polygons (J1 at scale).

The document pipeline joins pixels to their own document's AOI locally
(sources/decode.py). This operator is the general form the north star asks
for: an arbitrary pixel/point DataFrame joined against an AOI polygon
table via the planar cell index —

1. DISTRIBUTED cover build: a ``mapInPandas`` over the AOI DataFrame
   projects each polygon to its tile's UTM plane and emits its cell cover
   as (aoi, tileid, cell, is_full, rings_utm) rows — no driver collect,
   no task-closure geometry dict, so 10^5+ AOIs stream through executors
   like any other table;
2. the cover is broadcast-hash-joined to the pixels on (tileid, cell) —
   a cover is KBs per AOI;
3. pixels landing in 'full' cells are inside by construction; pixels in
   'partial' (boundary) cells carry the projected polygon along the join
   and go through one vectorized ray-casting pandas UDF for exact
   refinement (geometry parsed once per polygon per executor, memoized).

Skewed hot tiles are handled by the cell key itself (cells subdivide
tiles ~1e9:1) plus AQE skew-join splitting.
"""

from __future__ import annotations

import functools
import json
import math
from typing import Dict, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import geometry as G
from ..constants import CELL_SIZE_M

_COVER_SCHEMA = ("aoi string, tileid string, cell bigint, is_full boolean, "
                 "rings_utm string")


def aoi_cover_df(aois: DataFrame) -> DataFrame:
    """Distributed AOI cell-cover build.

    ``aois`` columns: aoi, tileid, geometry (GeoJSON string), utm_zone.
    Output: one row per covered cell with ``is_full`` (interior cell, no
    refinement needed) and, for boundary cells only, the UTM-projected
    rings as JSON (carried through the join so refinement needs no side
    channel).
    """

    def cover_batches(batches):
        for pdf in batches:
            aoi_l, tile_l, cell_l, full_l, rings_l = [], [], [], [], []
            for r in pdf.itertuples(index=False):
                rings4326 = G.rings_from_geojson(r.geometry)
                rings_utm = G.project_rings_to_utm(rings4326, int(r.utm_zone))
                gj = json.dumps([rr.tolist() for rr in rings_utm])
                cover = G.polygon_cell_cover(rings_utm, CELL_SIZE_M)
                for c in cover["full"]:
                    aoi_l.append(r.aoi); tile_l.append(r.tileid)
                    cell_l.append(int(c)); full_l.append(True)
                    rings_l.append(None)
                for c in cover["partial"]:
                    aoi_l.append(r.aoi); tile_l.append(r.tileid)
                    cell_l.append(int(c)); full_l.append(False)
                    rings_l.append(gj)
            yield pd.DataFrame({"aoi": aoi_l, "tileid": tile_l,
                                "cell": cell_l, "is_full": full_l,
                                "rings_utm": rings_l})

    return aois.select("aoi", "tileid", "geometry", "utm_zone").mapInPandas(
        cover_batches, schema=_COVER_SCHEMA)


# executor-local LRU memo: rings JSON -> parsed ring arrays
@functools.lru_cache(maxsize=4096)
def _parsed_rings(gj: str) -> list:
    return [np.asarray(r, dtype=float) for r in json.loads(gj)]


@pandas_udf(T.BooleanType())
def _pip_refine(rings_utm: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    out = np.zeros(len(rings_utm), dtype=bool)
    xs = x.to_numpy(dtype=float)
    ys = y.to_numpy(dtype=float)
    for gj in rings_utm.dropna().unique():
        m = (rings_utm == gj).to_numpy()
        out[m] = G.points_in_rings(xs[m], ys[m], _parsed_rings(gj))
    return pd.Series(out)


def with_cell(px: DataFrame, cell_m: float = CELL_SIZE_M) -> DataFrame:
    """Planar cell id from (x, y) — codegen expression, no Python."""
    cell = (F.floor(F.col("y") / cell_m).cast("long") * F.lit(2**32)
            + F.pmod(F.floor(F.col("x") / cell_m).cast("long"), F.lit(2**32)))
    return px.withColumn("cell", cell)


def cell_join_df(pixels: DataFrame, aois: DataFrame) -> DataFrame:
    """Join pixel rows (tileid, x, y, ...) to an AOI polygon DataFrame;
    returns the input columns + ``aoi``, keeping only inside-polygon
    pixels. Fully distributed — no driver collect at any AOI cardinality."""
    cover = F.broadcast(aoi_cover_df(aois))

    px = pixels
    if "cell" not in px.columns:
        px = with_cell(px)

    joined = px.join(cover, ["tileid", "cell"])
    # full-cover cells skip refinement entirely (the common case); the
    # refine UDF treats NULL rings (full cells, if evaluated) as outside
    inside = joined.filter(
        F.col("is_full") | _pip_refine(F.col("rings_utm"),
                                       F.col("x"), F.col("y")))
    return inside.drop("is_full", "rings_utm")


def dem_lookup(pixels: DataFrame, dem: DataFrame) -> DataFrame:
    """S8: DEM point lookup (reference gee.py:748-773) as a cell-keyed
    lookup join against a second table ``dem(cell, elevation, ...)``: pixel
    (x, y) → planar cell id (codegen) → hash join. A DEM dimension is
    ~KB/km², so it is broadcast."""
    px = pixels if "cell" in pixels.columns else with_cell(pixels)
    return px.join(F.broadcast(dem), "cell", "left")


# ---------------------------------------------------------------------------
# Z-order (Morton) spatial layout keys
# ---------------------------------------------------------------------------

# magic-number bit spreading: five shift/mask rounds place a 31-bit value
# on the even bit positions of an int64 (the standard Morton encode)
_SPREAD_ROUNDS = ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                  (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                  (1, 0x5555555555555555))
_ZORDER_BITS = 31  # 31+31 interleaved bits keep the key positive in int64


def _spread_bits(v):
    for sh, mask in _SPREAD_ROUNDS:
        v = (v.bitwiseOR(F.shiftleft(v, sh))).bitwiseAND(F.lit(mask))
    return v


def zorder_key(x, y):
    """Morton/Z-order key of a planar point: interleave the bits of the
    two cell coordinates so that sorting by the key gives a
    locality-preserving space-filling-curve order. Pure codegen (ten
    shift/mask ops per coordinate, no UDF).

    This is the data-LAYOUT primitive for 100 TB spatial tables: writing
    pixel/point files ordered by ``zorder_key`` (range-partitioned and
    sorted within partitions) makes any bbox predicate prune to a small set of contiguous key ranges,
    so the parquet min/max stats on one column stand in for a 2-D index.
    """
    m = F.lit(2 ** _ZORDER_BITS)
    cx = F.pmod(F.floor(x / F.lit(float(CELL_SIZE_M))).cast("long"), m)
    cy = F.pmod(F.floor(y / F.lit(float(CELL_SIZE_M))).cast("long"), m)
    return _spread_bits(cx).bitwiseOR(F.shiftleft(_spread_bits(cy), 1))


def zorder_key_sql(x: str, y: str, cell_m: float = CELL_SIZE_M) -> str:
    """DuckDB expression computing the bit-identical Morton key."""
    m = 2 ** _ZORDER_BITS

    def spread(e: str) -> str:
        for sh, mask in _SPREAD_ROUNDS:
            e = f"(({e} | ({e} << {sh})) & {mask})"
        return e

    cx = f"(((CAST(FLOOR({x} / {float(cell_m)}) AS BIGINT) % {m}) + {m}) % {m})"
    cy = f"(((CAST(FLOOR({y} / {float(cell_m)}) AS BIGINT) % {m}) + {m}) % {m})"
    return f"({spread(cx)} | ({spread(cy)} << 1))"


def _shift(df: DataFrame, sign: int, offsets, tags=(),
           xy=("ix", "iy")) -> DataFrame:
    """The grid-neighbour primitive every stencil, lag and bucket probe
    below is built on: each row of ``df`` once per entry of ``offsets``
    (a constant fan-out explode, codegen), its grid cell ``xy`` moved to
    ``(x + sign·dx, y + sign·dy)``. Entries are ``(dx, dy, *values)``;
    ``values`` become the literal columns named by ``tags``. With
    ``sign=-1`` a row reaches the cell that reads it at offset +d (a
    stencil gather); with ``sign=1`` it reaches the cell at +d."""
    x, y = xy
    off = F.explode(F.array(*[
        F.struct(F.lit(o[0]).alias("_dx"), F.lit(o[1]).alias("_dy"),
                 *[F.lit(v).alias(t) for t, v in zip(tags, o[2:])])
        for o in offsets])).alias("_o")
    step = (lambda c, d: c + d) if sign > 0 else (lambda c, d: c - d)
    rest = [c for c in df.columns if c not in xy]
    return (df.select(*rest, x, y, off)
            .select(*rest, step(F.col(x), F.col("_o._dx")).alias(x),
                    step(F.col(y), F.col("_o._dy")).alias(y),
                    *[F.col(f"_o.{t}").alias(t) for t in tags]))


def _dem_key():
    """Grid indices (ix, iy) of the DEM's packed cell key ``iy·2³² + ix``."""
    return (F.pmod(F.col("cell"), F.lit(2 ** 32)).cast("long"),
            F.floor(F.col("cell") / F.lit(2 ** 32)).cast("long"))


def _dem_grid(dem: DataFrame) -> DataFrame:
    """(ix, iy, v) frame of the DEM: decoded key and double elevation."""
    ix, iy = _dem_key()
    return dem.select(ix.alias("ix"), iy.alias("iy"),
                      F.col("elevation").cast("double").alias("v"))


def focal_stats(px: DataFrame, value_col: str, radius: int = 1) -> DataFrame:
    """Raster focal statistics (moving-window mean) over the long pixel
    frame — per pixel, the mean of ``value_col`` over its
    ``(2r+1) x (2r+1)`` grid neighborhood within the same scene.

    A projection over :func:`focal_conv` with one box kernel (all
    weights 1): ``focal_mean`` is the box sum over ``n_neigh``, so it
    has focal_conv's shape — one constant-fanout explode, ONE hash
    aggregation on (doc, cell) that folds the center pixel's payload
    through, and NO self-join (the decode upstream runs once).

    NULL values (nodata) contribute nothing: ``n_neigh`` counts non-null
    neighbors and ``focal_mean`` is their mean (NULL when none); a nodata
    center pixel still appears in the output (its neighbors' mean).
    """
    if radius < 1:
        raise ValueError("focal_stats: radius must be >= 1")
    span = range(-radius, radius + 1)
    box = {(dx, dy): 1.0 for dx in span for dy in span}
    g = focal_conv(px, value_col, {"_box": box})
    return (g.withColumn("focal_mean",
                         F.when(F.col("n_neigh") > 0,
                                F.col("_box") / F.col("n_neigh")))
             .drop("_box"))


def focal_stats_sql(pixels_sql: str, value_sql: str, radius: int = 1,
                    doc_col: str = "doc_id") -> str:
    """DuckDB oracle: identical contribute-aggregate-join over a pixel
    relation. ``pixels_sql`` must yield (doc_col, ix, iy) plus the value
    expression's inputs; ``value_sql`` is evaluated inside it."""
    span = ", ".join(str(d) for d in range(-radius, radius + 1))
    return f"""
WITH fpx AS ({pixels_sql}),
fval AS (SELECT {doc_col}, ix, iy, {value_sql} AS v FROM fpx),
foff AS (SELECT a.dx, b.dy
         FROM unnest([{span}]) AS a(dx), unnest([{span}]) AS b(dy)),
fcontrib AS (
  SELECT {doc_col}, ix + dx AS tix, iy + dy AS tiy, v FROM fval, foff),
fagg AS (
  SELECT {doc_col}, tix, tiy, SUM(v) AS s, COUNT(v) AS n
  FROM fcontrib GROUP BY {doc_col}, tix, tiy)
SELECT p.{doc_col}, p.ix, p.iy,
       CAST(a.n AS INT) AS n_neigh,
       CASE WHEN a.n > 0 THEN a.s / a.n END AS focal_mean
FROM fval p JOIN fagg a
  ON p.{doc_col} = a.{doc_col} AND p.ix = a.tix AND p.iy = a.tiy
"""


def cell_pyramid(px: DataFrame, value_col: str, levels: int = 4) -> DataFrame:
    """Multi-resolution cell rollup (tile-pyramid aggregation): the value
    column aggregated into planar grid cells at ``levels`` dyadic
    resolutions (20 m, 40 m, 80 m, ...) — the
    overview/zoom-level statistics a map service or hypertable rollup
    maintains, composited across all scenes.

    Single-pass grouping-sets form: each pixel explodes to one row per
    level (a CONSTANT ``levels``× fanout, codegen — never data-dependent)
    keyed by ``floor(x / (20 * 2^level))``, then ONE hash aggregation
    on (level, cx, cy). Map-side partial combine collapses the fanout to
    per-level cell cardinality before the shuffle, so shuffle volume is
    Σ_level |cells_level| (≈ 1.33 × the finest level), not ``levels`` ×
    |pixels|. The alternative — iterated aggregate-of-aggregates with a
    materialization barrier per level — saves only the pre-combine CPU
    and costs L round trips; at 100 TB the one-shuffle form wins unless
    the finest level is itself shuffle-bound.

    Dyadic parenthood is exact by the floor-division composition identity
    ``floor(floor(x/b)/2) = floor(x/(2b))``, so level keys computed
    directly from raw coordinates (here, and in the SQL oracle) agree
    with any iterated rollup of the finest level.

    NULL values (nodata) contribute to no aggregate; ``n`` counts
    non-null pixels per cell and cells whose every pixel is NULL still
    appear (n=0, NULL stats) — they occupy grid space, which overview
    consumers need to distinguish from never-scanned cells.
    """
    if levels < 1:
        raise ValueError("cell_pyramid: levels must be >= 1")
    tiers = F.explode(F.array(*[
        F.struct(F.lit(lvl).alias("level"),
                 F.lit(20.0 * (2 ** lvl)).alias("size"))
        for lvl in range(levels)])).alias("_t")
    v = F.col(value_col)
    e = (px.select(v.alias("_v"), F.col("x").alias("_x"),
                   F.col("y").alias("_y"), tiers)
           .select("_v",
                   F.col("_t.level").alias("level"),
                   F.floor(F.col("_x") / F.col("_t.size"))
                    .cast("long").alias("cx"),
                   F.floor(F.col("_y") / F.col("_t.size"))
                    .cast("long").alias("cy")))
    return (e.groupBy("level", "cx", "cy")
             .agg(F.count("_v").alias("n"),
                  F.sum("_v").alias("sum_v"),
                  F.min("_v").alias("min_v"),
                  F.max("_v").alias("max_v"))
             .withColumn("mean_v",
                         F.when(F.col("n") > 0,
                                F.col("sum_v") / F.col("n"))))


def cell_pyramid_sql(pixels_sql: str, value_sql: str, levels: int = 4,
                     base_m: float = 20.0) -> str:
    """DuckDB oracle: per-level GROUP BY over the same pixel relation,
    UNION ALL across levels — the unfused equivalent of the grouping-sets
    plan. ``pixels_sql`` must yield (x, y) plus the value expression's
    inputs."""
    parts = []
    for lvl in range(levels):
        size = float(base_m) * (2 ** lvl)
        parts.append(f"""
SELECT {lvl} AS level,
       CAST(FLOOR(x / {size!r}) AS BIGINT) AS cx,
       CAST(FLOOR(y / {size!r}) AS BIGINT) AS cy,
       COUNT(v) AS n, SUM(v) AS sum_v, MIN(v) AS min_v, MAX(v) AS max_v,
       CASE WHEN COUNT(v) > 0 THEN SUM(v) / COUNT(v) END AS mean_v
FROM pyr_px GROUP BY 2, 3""")
    body = "\nUNION ALL\n".join(parts)
    return (f"WITH pyr_src AS ({pixels_sql}),\n"
            f"pyr_px AS (SELECT x, y, {value_sql} AS v FROM pyr_src)\n"
            + body)


def focal_conv(px: DataFrame, value_col: str, kernels: Dict[str, dict]) -> DataFrame:
    """Generalized raster kernel correlation — Sobel gradients, Laplacian
    edge detection, Gaussian blur, slope/aspect stencils — over the long
    pixel frame, ALL kernels in one pass.

    ``kernels`` maps output-column name → {(dx, dy): weight}; per pixel
    and kernel, the output is ``Σ w(dx,dy) · v(ix+dx, iy+dy)`` over the
    neighbors present (correlation orientation — flip the kernel for true
    convolution). Grid indices come from the pixel's own coordinates:
    centers sit at ``(k + 0.5) * gsd``, so ``floor(x / gsd)`` recovers
    the exact integer column (bit-identical across engines). Each pixel
    EXPLODES one weighted contribution per offset in the union stencil
    (:func:`_shift`, constant fanout), targeting cell ``(ix−dx, iy−dy)``
    so the receiving cell's sum realizes the +offset read; ONE hash
    aggregation sums every kernel simultaneously and folds the center
    pixel's payload through (no self-join → the decode upstream runs
    once; joining back to the pixel frame would execute the decode once
    per join side). Map-side partial aggregation combines the explode to
    one row per touched cell before the exchange. N kernels share the
    explode and the shuffle — adding a kernel adds one sum column, not
    a pass.

    Border cells receive partial stencil sums (standard raster edge
    behavior); ``n_neigh`` counts non-null neighbors in the union stencil
    so consumers can require full support (``n_neigh == |stencil|``).
    NULL (nodata) neighbors contribute nothing; a kernel whose every
    support pixel is NULL yields NULL.
    """
    if not kernels:
        raise ValueError("focal_conv: need at least one kernel")
    names = list(kernels)
    offs = sorted(set().union(*[set(k) for k in kernels.values()])
                  | {(0, 0)})
    ix = F.floor(F.col("x") / F.col("gsd")).cast("long")
    iy = F.floor(F.col("y") / F.col("gsd")).cast("long")
    pay = [c for c in px.columns if c != "doc_id"]
    base = px.select("doc_id", ix.alias("_ix"), iy.alias("_iy"),
                     F.col(value_col).alias("_v"), *pay)
    # each pixel sends one weighted copy per offset to the cell reading
    # it there; the (0, 0) copy carries the center payload
    sent = _shift(base, -1,
                  [(dx, dy, (dx, dy) == (0, 0),
                    *[float(kernels[n].get((dx, dy), 0.0)) for n in names])
                   for dx, dy in offs],
                  ("_isc", *[f"_w_{n}" for n in names]), ("_ix", "_iy"))
    contrib = sent.select("doc_id", "_ix", "_iy", "_v", "_isc",
                          *[(F.col(f"_w_{n}") * F.col("_v"))
                            .alias(f"_wv_{n}") for n in names],
                          *[F.when(F.col("_isc"), F.col(c)).alias(c)
                            for c in pay])
    # center payload as per-column max-of-singleton (exact: one pixel per
    # cell), NOT max over one struct — primitive aggregation buffers keep
    # the aggregate a HashAggregate; a struct buffer forces SortAggregate
    agg = (contrib.groupBy("doc_id", "_ix", "_iy")
                  .agg(F.count("_v").alias("_n"),
                       F.max("_isc").alias("_has_ctr"),
                       *[F.sum(f"_wv_{n}").alias(n) for n in names],
                       *[F.max(c).alias(c) for c in pay]))
    return (agg.filter(F.col("_has_ctr"))
               .select(F.col("doc_id"), *pay,
                       F.col("_ix").alias("ix"), F.col("_iy").alias("iy"),
                       F.col("_n").cast("int").alias("n_neigh"),
                       *names))


def focal_conv_sql(pixels_sql: str, value_sql: str,
                   kernels: Dict[str, dict], doc_col: str = "doc_id"
                   ) -> str:
    """DuckDB oracle for :func:`focal_conv`: VALUES stencil table,
    contribute/aggregate, join back to the pixel relation. ``pixels_sql``
    must yield (doc_col, ix, iy) plus the value expression's inputs."""
    names = list(kernels)
    offs = sorted(set().union(*[set(k) for k in kernels.values()])
                  | {(0, 0)})
    rows = ", ".join(
        "(" + ", ".join(
            [str(dx), str(dy)]
            + [repr(float(kernels[n].get((dx, dy), 0.0))) for n in names])
        + ")" for dx, dy in offs)
    wcols = ", ".join(f"w_{n}" for n in names)
    sums = ", ".join(f"SUM(w_{n} * v) AS {n}" for n in names)
    outs = ", ".join(f"a.{n}" for n in names)
    return f"""
WITH fcpx AS ({pixels_sql}),
fcval AS (SELECT {doc_col}, ix, iy, {value_sql} AS v FROM fcpx),
fcoff (dx, dy, {wcols}) AS (VALUES {rows}),
fccontrib AS (
  SELECT {doc_col}, ix - dx AS tix, iy - dy AS tiy, v, {wcols}
  FROM fcval, fcoff),
fcagg AS (
  SELECT {doc_col}, tix, tiy, COUNT(v) AS n, {sums}
  FROM fccontrib GROUP BY {doc_col}, tix, tiy)
SELECT p.{doc_col}, p.ix, p.iy, CAST(a.n AS INT) AS n_neigh, {outs}
FROM fcval p JOIN fcagg a
  ON p.{doc_col} = a.{doc_col} AND p.ix = a.tix AND p.iy = a.tiy
"""


SOBEL_GX = {(dx, dy): float(dx * (2 - abs(dy)))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)}
SOBEL_GY = {(dx, dy): float(dy * (2 - abs(dx)))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)}


def polygon_metrics(aois: DataFrame) -> DataFrame:
    """Vector-geometry metrics of AOI polygons straight from their
    GeoJSON (raw coordinate space, no CRS transform — deterministic
    across engines): vertex/ring/polygon counts, shoelace area,
    perimeter, and area centroid of the first polygon's outer ring.
    The per-AOI numbers behind coverage accounting and tile-budget
    planning.

    Shape: pure projection — ``from_json`` parses the nested
    coordinate array once, the shoelace/centroid/perimeter terms are
    ``zip_with`` + ``aggregate`` folds over the ring (array exprs, no
    explode, no shuffle beyond the caller's dedup). Holes and extra
    polygons are counted but metrics describe the outer ring — the
    standard headline-number convention, stated rather than implied.
    """
    coords = F.from_json(
        F.get_json_object(F.col("aoi_geometry"), "$.coordinates"),
        "array<array<array<array<double>>>>")
    ring = F.element_at(F.element_at(coords, 1), 1)
    n = F.size(ring)
    a_ = F.slice(ring, 1, n - 1)
    b_ = F.slice(ring, 2, n - 1)

    def px_(p):
        return F.element_at(p, 1)

    def py_(p):
        return F.element_at(p, 2)

    cross = F.zip_with(a_, b_,
                       lambda p, q: px_(p) * py_(q) - px_(q) * py_(p))
    seg = F.zip_with(
        a_, b_,
        lambda p, q: F.sqrt((px_(q) - px_(p)) * (px_(q) - px_(p))
                            + (py_(q) - py_(p)) * (py_(q) - py_(p))))
    cxs = F.zip_with(a_, b_,
                     lambda p, q: (px_(p) + px_(q))
                     * (px_(p) * py_(q) - px_(q) * py_(p)))
    cys = F.zip_with(a_, b_,
                     lambda p, q: (py_(p) + py_(q))
                     * (px_(p) * py_(q) - px_(q) * py_(p)))

    def fsum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    signed2 = fsum(cross)
    return aois.select(
        F.col("aoi"),
        F.size(coords).alias("n_polys"),
        F.size(F.element_at(coords, 1)).alias("n_rings"),
        (n - 1).alias("n_vertices"),
        F.round(F.abs(signed2) / 2, 12).alias("area"),
        F.round(fsum(seg), 9).alias("perimeter"),
        F.round(fsum(cxs) / (3 * signed2), 9).alias("centroid_x"),
        F.round(fsum(cys) / (3 * signed2), 9).alias("centroid_y"))


def polygon_metrics_sql(aois_sql: str, geom_col: str = "geom",
                        name_col: str = "aoi") -> str:
    """DuckDB oracle: identical parse (JSON → nested DOUBLE lists),
    identical zip terms, identical sequential folds."""
    ring = "c[1][1]"
    return f"""
WITH pma AS ({aois_sql}),
pmc AS (
  SELECT {name_col},
         CAST(json_extract({geom_col}, '$.coordinates')
              AS DOUBLE[][][][]) AS c
  FROM pma
),
pmr AS (
  SELECT {name_col}, c, {ring} AS ring,
         {ring}[1:len({ring}) - 1] AS a_,
         {ring}[2:len({ring})] AS b_
  FROM pmc
),
pmt AS (
  SELECT {name_col}, c, ring,
         list_aggregate(list_transform(list_zip(a_, b_),
           p -> p[1][1] * p[2][2] - p[2][1] * p[1][2]), 'sum') AS s2,
         list_aggregate(list_transform(list_zip(a_, b_),
           p -> sqrt((p[2][1] - p[1][1]) * (p[2][1] - p[1][1])
                     + (p[2][2] - p[1][2]) * (p[2][2] - p[1][2]))),
           'sum') AS per,
         list_aggregate(list_transform(list_zip(a_, b_),
           p -> (p[1][1] + p[2][1])
                * (p[1][1] * p[2][2] - p[2][1] * p[1][2])), 'sum') AS cxs,
         list_aggregate(list_transform(list_zip(a_, b_),
           p -> (p[1][2] + p[2][2])
                * (p[1][1] * p[2][2] - p[2][1] * p[1][2])), 'sum') AS cys
  FROM pmr
)
SELECT {name_col},
       CAST(len(c) AS INT) AS n_polys,
       CAST(len(c[1]) AS INT) AS n_rings,
       CAST(len(ring) - 1 AS INT) AS n_vertices,
       ROUND(abs(s2) / 2, 12) AS area,
       ROUND(per, 9) AS perimeter,
       ROUND(cxs / (3 * s2), 9) AS centroid_x,
       ROUND(cys / (3 * s2), 9) AS centroid_y
FROM pmt
"""


def zonal_stats(px: DataFrame, zones: DataFrame, value_col: str) -> DataFrame:
    """Zonal statistics — the classic raster×zone cross-analysis (mean
    NDVI per elevation band, per land-cover class, per watershed): the
    zone raster arrives as a second cell-keyed table ``zones(cell,
    zone)``, pixels pick their zone by ONE hash join on the cell id they
    compute in codegen, and a single map-side-combined hash agg at zone
    cardinality emits n/mean/min/max/std per zone.

    The zone table is ~KB/km² and is broadcast. Pixels with no zone
    drop (inner join — outside the zone raster means outside the
    analysis). Std is the
    population form derived from (Σv, Σv²) so the oracle can reproduce
    it bit-for-bit from the same sums.
    """
    p = px if "cell" in px.columns else with_cell(px)
    v = F.col(value_col)
    agg = (p.join(F.broadcast(zones), "cell")
           .groupBy("zone")
           .agg(F.count(value_col).alias("n"),
                F.sum(v).alias("_s"),
                F.sum(v * v).alias("_s2"),
                F.min(v).alias("_mn"),
                F.max(v).alias("_mx")))
    mean = F.col("_s") / F.col("n")
    var = F.greatest(F.col("_s2") / F.col("n") - mean * mean, F.lit(0.0))
    return agg.select(
        "zone", "n",
        F.round(mean, 6).alias("mean_v"),
        F.round("_mn", 6).alias("min_v"),
        F.round("_mx", 6).alias("max_v"),
        F.round(F.sqrt(var), 6).alias("std_v"))


def zonal_stats_sql(pixels_sql: str, zones_sql: str, value_sql: str,
                    zone_col: str = "zone") -> str:
    """DuckDB oracle: identical join and moment-derived statistics.
    ``pixels_sql`` must yield (cell, value inputs); ``zones_sql`` yields
    (cell, zone)."""
    return f"""
WITH zpx AS ({pixels_sql}),
zzn AS ({zones_sql}),
zv AS (SELECT z.{zone_col}, {value_sql} AS v
       FROM zpx p JOIN zzn z USING (cell)),
za AS (
  SELECT {zone_col}, COUNT(v) AS n, SUM(v) AS s, SUM(v * v) AS s2,
         MIN(v) AS mn, MAX(v) AS mx
  FROM zv GROUP BY {zone_col}
)
SELECT {zone_col}, n,
       ROUND(s / n, 6) AS mean_v,
       ROUND(mn, 6) AS min_v,
       ROUND(mx, 6) AS max_v,
       ROUND(sqrt(GREATEST(s2 / n - (s / n) * (s / n), 0.0)), 6) AS std_v
FROM za
"""


def hillshade(dem: DataFrame, cell_m: float = CELL_SIZE_M) -> DataFrame:
    """Horn-method hillshade of the DEM cell dimension: per cell,
    terrain slope, aspect, and the illumination value [0, 255] for a
    light source at azimuth 315°, altitude 45° — the classic terrain-analysis
    raster operator (ESRI/GDAL semantics: Sobel-weighted 3×3 gradients,
    ``shade = 255·(sinα·cosS + cosα·sinS·cos(az−A))`` clamped at 0).

    Shape: the DEM table decodes its packed cell id to grid indices in
    codegen, both gradients ride ONE :func:`focal_conv` pass (shared
    explode + single hash agg at cell cardinality), and the shading is
    a pure projection — no self-join, no per-pixel window, nothing
    driver-side. Edge cells with partial stencils are dropped
    (``n_neigh == 9``), standard raster edge behavior.
    """
    px = dem_pixels(dem, cell_m)
    g = focal_conv(px, "elevation", {"gx": SOBEL_GX, "gy": SOBEL_GY})
    # single precomputed multiplier, written identically in the oracle —
    # gx*k and (gx*z)/8c differ in the last ulp and round 6 can't always
    # hide that at a rounding boundary
    k = 1.0 / (8.0 * float(cell_m))
    dzdx = F.col("gx") * F.lit(k)
    dzdy = F.col("gy") * F.lit(k)
    slope = F.atan(F.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = F.atan2(dzdy, -dzdx)
    az = math.radians(360.0 - 315.0 + 90.0)
    alt = math.radians(45.0)
    shade = 255.0 * (math.sin(alt) * F.cos(slope)
                     + math.cos(alt) * F.sin(slope)
                     * F.cos(F.lit(az) - aspect))
    return (g.filter(F.col("n_neigh") == 9)
            .select("ix", "iy", "elevation",
                    F.round(F.degrees(slope), 6).alias("slope_deg"),
                    F.round(aspect, 6).alias("aspect_rad"),
                    F.round(F.greatest(shade, F.lit(0.0)), 6)
                    .alias("hillshade")))


def hillshade_sql(dem_path: str, cell_m: float = CELL_SIZE_M,
                  azimuth_deg: float = 315.0, altitude_deg: float = 45.0,
                  z_factor: float = 1.0) -> str:
    """DuckDB oracle: identical cell decode, focal correlation, and
    shading formula."""
    pixels = (f"SELECT 'dem' AS doc_id, "
              f"CAST(cell % 4294967296 AS BIGINT) AS ix, "
              f"CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy, "
              f"elevation FROM read_parquet('{dem_path}')")
    conv = focal_conv_sql(pixels, "elevation",
                          {"gx": SOBEL_GX, "gy": SOBEL_GY})
    k = float(z_factor) / (8.0 * float(cell_m))
    az = math.radians(360.0 - float(azimuth_deg) + 90.0)
    alt = math.radians(float(altitude_deg))
    return f"""
WITH hs AS ({conv}),
hg AS (
  SELECT ix, iy,
         atan(sqrt((gx * {k!r}) * (gx * {k!r})
                   + (gy * {k!r}) * (gy * {k!r}))) AS slope,
         atan2(gy * {k!r}, -(gx * {k!r})) AS aspect
  FROM hs WHERE n_neigh = 9
),
hd AS (SELECT 'dem' AS doc_id,
              CAST(cell % 4294967296 AS BIGINT) AS ix,
              CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
              elevation
       FROM read_parquet('{dem_path}'))
SELECT g.ix, g.iy, d.elevation,
       ROUND(degrees(slope), 6) AS slope_deg,
       ROUND(aspect, 6) AS aspect_rad,
       ROUND(GREATEST(255.0 * ({math.sin(alt)!r} * cos(slope)
                               + {math.cos(alt)!r} * sin(slope)
                               * cos({az!r} - aspect)), 0.0), 6)
         AS hillshade
FROM hg g JOIN hd d ON d.ix = g.ix AND d.iy = g.iy
"""


def distance_join(points: DataFrame, stations: DataFrame, radius: float,
                  cell_m: float = CELL_SIZE_M) -> DataFrame:
    """Distance-threshold spatial pair join: every (point, station) pair
    with planar distance ≤ ``radius`` — the within-d band join (sensor
    attribution, ground-truth matching) that neither equi- nor range
    joins express directly.

    Candidate generation replicates the SMALL side: each station row
    explodes to the grid cells its radius-disc bounding box overlaps —
    (2·ceil(r/cell)+1)² rows per station, a constant — and the result
    broadcasts, so the big point side is touched by exactly one
    broadcast hash join on the cell id it computes in codegen, zero
    shuffles at point cardinality. The distance predicate then runs
    exactly on the survivors (bbox-cell false positives only). No cross
    product anywhere. Stations carry (``station_id``, sx, sy).
    """
    # +1 ring of slack beyond ceil(radius/cell): a pair at distance
    # EXACTLY radius whose coordinates sit on cell boundaries can span
    # ceil(radius/cell)+1 cells once fp division rounds the two floor
    # arguments in opposite directions (hypothesis-found, same class as
    # the haversine latitude-band edge). The exact d² filter below
    # discards the extra candidates, so the wider cover is lossless-by-
    # construction at a ~(1+1/r_cells)² candidate-build cost on the
    # replicated (small) side only.
    r_cells = int(math.ceil(radius / cell_m)) + 1
    six = F.floor(F.col("sx") / cell_m).cast("long")
    siy = F.floor(F.col("sy") / cell_m).cast("long")
    cand = (stations
            .select("station_id", "sx", "sy",
                    F.explode(F.sequence(six - r_cells, six + r_cells))
                    .alias("ix"), siy.alias("siy"))
            .select("station_id", "sx", "sy", "ix",
                    F.explode(F.sequence(F.col("siy") - r_cells,
                                         F.col("siy") + r_cells))
                    .alias("iy"))
            .select("station_id", "sx", "sy",
                    (F.col("iy") * F.lit(2 ** 32)
                     + F.pmod(F.col("ix"), F.lit(2 ** 32))).alias("cell")))
    cand = F.broadcast(cand)
    px = points if "cell" in points.columns else with_cell(points, cell_m)
    d2 = ((F.col("x") - F.col("sx")) ** 2 + (F.col("y") - F.col("sy")) ** 2)
    return (px.join(cand, "cell")
            .filter(d2 <= F.lit(float(radius) ** 2))
            .drop("cell")
            .withColumn("dist", F.round(F.sqrt(d2), 6)))


def knn_join(points: DataFrame, stations: DataFrame,
             radius: float = 3 * CELL_SIZE_M) -> DataFrame:
    """k-nearest-neighbor join (k = 3): for each point, its k nearest
    stations by planar distance (deterministic (dist, station_id) tie
    order) — the lookup join behind nearest-sensor attribution and
    ground-truth matching.

    EXACT whenever the point has ≥ k stations within ``radius``: the k
    true nearest are then all ≤ radius away, so ranking the within-
    radius candidate set cannot miss one. Points with fewer than k
    candidates keep what they have, flagged ``truncated`` — widen
    ``radius`` (cost grows with the square) or treat as border cases.

    Shape: :func:`distance_join` candidates (station-side constant
    bbox-cell replication + ONE broadcast hash join, zero
    point-cardinality shuffles) → one ranked window partitioned by the
    point key at candidate-pair cardinality. No cross product, no
    global sort.
    """
    pairs = distance_join(points, stations, radius=radius)
    # rank on the UNROUNDED squared distance (sx/sy are still present),
    # not the rounded display column `dist`: two stations < 5e-7 apart
    # in true distance round equal and would fall to the id tie-break,
    # ranking a farther station ahead of a closer one
    d2 = ((F.col("x") - F.col("sx")) ** 2 + (F.col("y") - F.col("sy")) ** 2)
    w = Window.partitionBy("doc_id", "x", "y").orderBy(
        d2.asc(), F.col("station_id").asc())
    wk = Window.partitionBy("doc_id", "x", "y")
    return (pairs.withColumn("knn_rank", F.row_number().over(w))
            .withColumn("n_cand", F.count("*").over(wk))
            .filter(F.col("knn_rank") <= 3)
            .withColumn("truncated", F.col("n_cand") < 3)
            .drop("n_cand", "sx", "sy"))


def categorical_mode_grid(px: DataFrame, size_m: float = 4 * 10.0) -> DataFrame:
    """Categorical (majority-vote) raster downsampling: each coarse
    ``size_m`` cell takes the most frequent ``SCL`` class of the pixels inside
    it — the correct resampling rule for class rasters (SCL, land
    cover), where bilinear averaging of class IDs is meaningless.
    Deterministic tie order: highest count, then SMALLEST class id.

    Shape: one hash agg at (coarse cell, class) cardinality (map-side
    combined — the pixel stream collapses per partition first), then a
    ranked window per coarse cell at class cardinality (≤ the class
    alphabet, trivially small). Never a per-pixel window.
    """
    cx = F.floor(F.col("x") / size_m).cast("long")
    cy = F.floor(F.col("y") / size_m).cast("long")
    counts = (px.select(cx.alias("cx"), cy.alias("cy"),
                        F.col("SCL").alias("v"))
              .groupBy("cx", "cy", "v")
              .agg(F.count("*").alias("n")))
    w = Window.partitionBy("cx", "cy").orderBy(
        F.col("n").desc(), F.col("v").asc())
    tot = Window.partitionBy("cx", "cy")
    return (counts
            .withColumn("rnk", F.row_number().over(w))
            .withColumn("n_total", F.sum("n").over(tot))
            .filter(F.col("rnk") == 1)
            .select("cx", "cy", F.col("v").alias("mode_value"),
                    F.col("n").alias("n_votes"), "n_total"))


def categorical_mode_grid_sql(pixels_sql: str, value_col: str = "SCL",
                              size_m: float = 4 * 10.0) -> str:
    """DuckDB oracle: identical counts, tie order, and totals."""
    return f"""
WITH mpx AS ({pixels_sql}),
mcounts AS (
  SELECT CAST(floor(x / {size_m!r}) AS BIGINT) AS cx,
         CAST(floor(y / {size_m!r}) AS BIGINT) AS cy,
         {value_col} AS v, COUNT(*) AS n
  FROM mpx GROUP BY 1, 2, 3
),
mrank AS (
  SELECT cx, cy, v, n,
         ROW_NUMBER() OVER (PARTITION BY cx, cy
                            ORDER BY n DESC, v ASC) AS rnk,
         CAST(SUM(n) OVER (PARTITION BY cx, cy) AS BIGINT) AS n_total
  FROM mcounts
)
SELECT cx, cy, v AS mode_value, n AS n_votes, n_total
FROM mrank WHERE rnk = 1
"""


# ---------------------------------------------------------------------------
# Global spatial autocorrelation (Moran's I, queen contiguity)
# ---------------------------------------------------------------------------

QUEEN = {(dx, dy): 1.0 for dx in (-1, 0, 1) for dy in (-1, 0, 1)
         if (dx, dy) != (0, 0)}

#: D8 neighbor table: ESRI direction codes + unit-cell distances.
D8 = [  # (dx, dy, code, dist)
    (1, 0, 1, 1.0), (1, -1, 2, math.sqrt(2.0)), (0, -1, 4, 1.0),
    (-1, -1, 8, math.sqrt(2.0)), (-1, 0, 16, 1.0),
    (-1, 1, 32, math.sqrt(2.0)), (0, 1, 64, 1.0),
    (1, 1, 128, math.sqrt(2.0)),
]


def dem_pixels(dem: DataFrame, cell_m: float = CELL_SIZE_M) -> DataFrame:
    """Long pixel frame (doc_id, x, y, gsd, value) from the packed-cell
    DEM dimension — the same codegen decode :func:`hillshade` uses."""
    ix, iy = _dem_key()
    return dem.select(
        F.lit("dem").alias("doc_id"),
        ((ix + 0.5) * cell_m).alias("x"),
        ((iy + 0.5) * cell_m).alias("y"),
        F.col("elevation"),
        F.lit(float(cell_m)).alias("gsd"))


def morans_i(px: DataFrame) -> DataFrame:
    """Global Moran's I of a cell raster under queen contiguity
    (8-neighbor, binary weights) — THE spatial-autocorrelation summary
    (is elevation / NDVI / land-value clustered, dispersed, or random?):
    ``I = (n/W) · Σᵢ zᵢ·Σⱼ∈N(i) zⱼ / Σᵢ zᵢ²`` with z the mean-deviation.
    Emits n_cells, the realized link count W, I, and E[I] = −1/(n−1).

    Shape: one 1-row mean agg broadcast back (codegen z), the neighbor
    sums ride ONE :func:`focal_conv` pass (constant 9× explode fanout +
    a single hash agg at cell cardinality — no self-join), and the final
    reduction is a second 1-row agg. Border cells keep their realized
    links (standard binary-weight accounting), so W counts actual
    neighbor pairs, not 8n.
    """
    mean = px.agg(F.avg(F.col("elevation").cast("double")).alias("_mu"))
    z = (px.crossJoin(F.broadcast(mean))
         .withColumn("_z", F.col("elevation").cast("double") - F.col("_mu"))
         .drop("_mu"))
    g = focal_conv(z, "_z", {"nsum": QUEEN})
    # n_neigh counts the center too (the (0,0) offset is always in the
    # union stencil), so realized links per cell = n_neigh - 1
    return g.agg(
        F.count("*").alias("n_cells"),
        F.sum(F.col("n_neigh") - 1).cast("long").alias("w_links"),
        F.round((F.count("*") / F.sum(F.col("n_neigh") - 1))
                * (F.sum(F.col("_z") * F.col("nsum"))
                   / F.sum(F.col("_z") * F.col("_z"))), 6)
        .alias("moran_i"),
        F.round(F.lit(-1.0) / (F.count("*") - 1), 6).alias("e_i"))


def morans_i_sql(cells_sql: str, value_sql: str = "elevation") -> str:
    """DuckDB oracle: identical mean-deviation, the :func:`focal_conv_sql`
    stencil pass, identical final reduction. ``cells_sql`` must yield
    (doc_id, ix, iy) plus the value expression's inputs."""
    zsql = f"""SELECT doc_id, ix, iy,
       CAST({value_sql} AS DOUBLE)
       - AVG(CAST({value_sql} AS DOUBLE)) OVER () AS z
FROM ({cells_sql})"""
    conv = focal_conv_sql(zsql, "z", {"nsum": QUEEN})
    return f"""
WITH mig AS ({conv}),
miz AS ({zsql})
SELECT COUNT(*) AS n_cells,
       CAST(SUM(g.n_neigh - 1) AS BIGINT) AS w_links,
       ROUND((COUNT(*) / SUM(g.n_neigh - 1))
             * (SUM(z.z * g.nsum) / SUM(z.z * z.z)), 6) AS moran_i,
       ROUND(-1.0 / (COUNT(*) - 1), 6) AS e_i
FROM mig g JOIN miz z ON g.ix = z.ix AND g.iy = z.iy
"""


# ---------------------------------------------------------------------------
# D8 flow direction (hydrology primitive)
# ---------------------------------------------------------------------------

def flow_direction(dem: DataFrame, cell_m: float = CELL_SIZE_M) -> DataFrame:
    """D8 steepest-descent flow direction per DEM cell — the hydrology
    primitive under watershed delineation and flow accumulation: each
    cell drains toward the 8-neighbor with the greatest positive
    ``(elev_cell − elev_neighbor)/dist`` (ESRI power-of-two codes,
    diagonal distance √2); cells with no lower neighbor code 0
    (pit/flat). Ties break to the smallest code — deterministic, and
    stated rather than library-dependent.

    Shape: the DEM decodes its packed cell key in codegen; the sender
    side explodes one record per D8 offset (constant 8× fanout) and
    equi-joins back to the grid on the co-partitioned cell key — ONE
    shuffle join, no cross product — then a hash agg at cell cardinality
    takes the argmax via struct-max (built only for positive drops, so
    NULL-field ordering can never enter the comparison).
    """
    base = _dem_grid(dem)
    contrib = _shift(base.select("ix", "iy", F.col("v").alias("vs")), -1,
                     D8, ("code", "dist"))
    j = contrib.join(base, ["ix", "iy"])
    drop = (F.col("v") - F.col("vs")) / F.col("dist")
    best = F.max(F.when(drop > 0,
                        F.struct(drop.alias("d"),
                                 (-F.col("code")).alias("nc"))))
    out = (j.groupBy("ix", "iy", "v")
           .agg(F.count("*").cast("int").alias("n_neigh"),
                F.sum((drop > 0).cast("long")).alias("n_lower"),
                best.alias("_b")))
    return out.select(
        "ix", "iy", F.col("v").alias("elevation"), "n_neigh", "n_lower",
        F.coalesce(-F.col("_b.nc"), F.lit(0)).cast("int")
        .alias("flow_code"),
        F.round(F.col("_b.d"), 6).alias("best_drop"))


def flow_direction_sql(dem_path: str, value_col: str = "elevation") -> str:
    """DuckDB oracle: identical decode, offset table, join, and
    struct-max argmax (struct only built for positive drops — both
    engines then compare fully non-null structs field-by-field)."""
    rows = ", ".join(f"({dx}, {dy}, {c}, {d!r})" for dx, dy, c, d in D8)
    return f"""
WITH fdb AS (
  SELECT CAST(cell % 4294967296 AS BIGINT) AS ix,
         CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
         CAST({value_col} AS DOUBLE) AS v
  FROM read_parquet('{dem_path}')
),
fdo (dx, dy, code, dist) AS (VALUES {rows}),
fdc AS (
  SELECT ix - dx AS ix, iy - dy AS iy, v AS vs, code, dist
  FROM fdb, fdo
),
fdj AS (
  SELECT b.ix, b.iy, b.v, (b.v - c.vs) / c.dist AS drop_, c.code
  FROM fdc c JOIN fdb b ON c.ix = b.ix AND c.iy = b.iy
),
fda AS (
  SELECT ix, iy, v, CAST(COUNT(*) AS INT) AS n_neigh,
         CAST(SUM(CASE WHEN drop_ > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lower,
         MAX(CASE WHEN drop_ > 0
                  THEN struct_pack(d := drop_, nc := -code) END) AS b
  FROM fdj GROUP BY ix, iy, v
)
SELECT ix, iy, v AS {value_col}, n_neigh, n_lower,
       CAST(COALESCE(-(b).nc, 0) AS INT) AS flow_code,
       ROUND((b).d, 6) AS best_drop
FROM fda
"""


# ---------------------------------------------------------------------------
# Best-pixel temporal composite
# ---------------------------------------------------------------------------

def greenest_composite(px: DataFrame,
                       payload_cols: Sequence[str] = ()) -> DataFrame:
    """Best-pixel (max-value) temporal composite — the classic
    cloud-free mosaic builder (greenest-pixel Landsat/Sentinel
    composites): per location, keep the observation with the maximum
    ``ndvi`` across the whole stack, plus when it was taken
    (``date_str``) and any payload bands from the winning row.

    Deterministic argmax: the struct orders (value, time, doc_id) so
    equal values resolve to the latest date, then the largest doc_id;
    payload fields sit AFTER the unique tiebreak and can never
    influence the comparison. Rows with NULL value drop first — the
    struct is only built for non-null values, keeping both engines'
    struct ordering away from NULL-field semantics.

    Shape: ONE map-side-combinable hash agg at location cardinality.
    No window, no join, no second scan — at 10^12 pixels this is the
    cheapest possible reduction of a raster time stack.
    """
    v = F.col("ndvi").cast("double")
    fields = [F.round(v, 6).alias("v"), F.col("date_str").alias("t"),
              F.col("doc_id").alias("tb")]
    fields += [F.col(c).alias(c) for c in payload_cols]
    best = F.max(F.when(v.isNotNull(), F.struct(*fields)))
    out = (px.groupBy("x", "y")
           .agg(F.count(v).cast("long").alias("n_obs"), best.alias("_b")))
    sel = ["x", "y", "n_obs",
           F.col("_b.v").alias("best_ndvi"),
           F.col("_b.t").alias("best_date_str"),
           F.col("_b.tb").alias("best_doc_id")]
    # payload passes through UNROUNDED: it is the winning row's raw
    # column (bit-identical in any engine reading the same input), and
    # re-rounding a raw double can land on a half-way representation
    # that decimal (Spark) vs float (DuckDB) rounding split
    sel += [F.col(f"_b.{c}").alias(f"best_{c}") for c in payload_cols]
    return out.select(*sel)


def greenest_composite_sql(pixels_sql: str, value_col: str = "ndvi",
                           time_col: str = "date_str",
                           tiebreak_col: str = "doc_id",
                           payload_cols: Sequence[str] = (),
                           x_col: str = "x", y_col: str = "y") -> str:
    """DuckDB oracle: identical struct-max argmax and field order.
    ``pixels_sql`` must yield (x, y, value, time, tiebreak, payload)."""
    pf = "".join(f", {c} := {c}" for c in payload_cols)
    pout = "".join(f",\n       (b).{c} AS best_{c}"
                   for c in payload_cols)
    return f"""
WITH gcp AS ({pixels_sql}),
gca AS (
  SELECT {x_col}, {y_col},
         CAST(COUNT(CAST({value_col} AS DOUBLE)) AS BIGINT) AS n_obs,
         MAX(CASE WHEN {value_col} IS NOT NULL THEN struct_pack(
               v := ROUND(CAST({value_col} AS DOUBLE), 6),
               t := {time_col}, tb := {tiebreak_col}{pf}) END) AS b
  FROM gcp GROUP BY {x_col}, {y_col}
)
SELECT {x_col}, {y_col}, n_obs,
       (b).v AS best_{value_col},
       (b).t AS best_{time_col},
       (b).tb AS best_{tiebreak_col}{pout}
FROM gca
"""


# ---------------------------------------------------------------------------
# Getis-Ord Gi* hotspot detection (local spatial statistic)
# ---------------------------------------------------------------------------

#: Gi* stencil: queen contiguity PLUS the focal cell itself (the "*" in
#: Gi* — self-inclusion is what distinguishes it from plain Gi).
GSTAR = {(dx, dy): 1.0 for dx in (-1, 0, 1) for dy in (-1, 0, 1)}


def getis_ord_gstar(px: DataFrame) -> DataFrame:
    """Getis-Ord Gi* z-score per cell — THE local hotspot statistic
    (where are the statistically high/low clusters?), complementing the
    single global number :func:`morans_i` gives. Binary weights over the
    9-cell self-inclusive queen stencil:

    ``Gi* = (Σⱼ wᵢⱼ·xⱼ − x̄·Wᵢ) / (S·√[(n·Wᵢ − Wᵢ²)/(n−1)])``

    with ``Wᵢ`` the realized stencil support (border cells keep their
    actual link count), ``x̄``/``S`` the global mean / population std.
    |z| ≳ 1.96 marks a 95 % hot (positive) or cold (negative) spot.

    Shape: the local sums ride ONE :func:`focal_conv` stencil pass
    (constant 9× explode fanout, one hash agg at cell cardinality — no
    self-join); the global moments are a 1-row agg broadcast back; the
    z-score itself is a pure codegen projection. Two shuffles total,
    both at cell cardinality, independent of stencil size.
    """
    g = focal_conv(px, "elevation", {"gsum": GSTAR})
    stats = px.agg(
        F.count(F.col("elevation").cast("double")).alias("_n"),
        F.avg(F.col("elevation").cast("double")).alias("_mu"),
        F.avg(F.col("elevation").cast("double")
              * F.col("elevation").cast("double")).alias("_msq"))
    j = g.crossJoin(F.broadcast(stats))
    wi = F.col("n_neigh").cast("double")
    s = F.sqrt(F.col("_msq") - F.col("_mu") * F.col("_mu"))
    num = F.col("gsum") - F.col("_mu") * wi
    den = s * F.sqrt((F.col("_n") * wi - wi * wi) / (F.col("_n") - 1))
    # degenerate denominators (constant raster: s = 0; a raster small
    # enough that one stencil covers it: Wi = n) yield NULL, not an
    # ANSI divide-by-zero — mirrored via NULLIF in the oracle
    den = F.when(den != 0, den)
    return (j.select("ix", "iy",
                     F.col("elevation").cast("double").alias("elevation"),
                     F.col("n_neigh").alias("w_i"),
                     F.round(num / den, 6).alias("gi_z"))
             .withColumn("spot",
                         F.when(F.col("gi_z") > 1.96, F.lit("hot"))
                          .when(F.col("gi_z") < -1.96, F.lit("cold"))
                          .otherwise(F.lit("ns"))))


def getis_ord_gstar_sql(cells_sql: str, value_sql: str = "elevation"
                        ) -> str:
    """DuckDB oracle: identical :func:`focal_conv_sql` stencil pass,
    window-function global moments, identical z projection.
    ``cells_sql`` must yield (doc_id, ix, iy) plus the value inputs."""
    vsql = (f"SELECT doc_id, ix, iy, CAST({value_sql} AS DOUBLE) AS v "
            f"FROM ({cells_sql})")
    conv = focal_conv_sql(vsql, "v", {"gsum": GSTAR})
    return f"""
WITH ggc AS ({conv}),
ggv AS ({vsql}),
ggs AS (SELECT COUNT(v) AS n, AVG(v) AS mu, AVG(v * v) AS msq FROM ggv),
ggz AS (
  SELECT g.ix, g.iy, z.v, g.n_neigh,
         ROUND((g.gsum - s.mu * CAST(g.n_neigh AS DOUBLE))
               / NULLIF(SQRT(s.msq - s.mu * s.mu)
                        * SQRT((s.n * CAST(g.n_neigh AS DOUBLE)
                                - CAST(g.n_neigh AS DOUBLE)
                                  * CAST(g.n_neigh AS DOUBLE))
                               / (s.n - 1)), 0), 6) AS gi_z
  FROM ggc g JOIN ggv z ON g.ix = z.ix AND g.iy = z.iy
  CROSS JOIN ggs s
)
SELECT ix, iy, v AS {value_sql}, n_neigh AS w_i, gi_z,
       CASE WHEN gi_z > 1.96 THEN 'hot'
            WHEN gi_z < -1.96 THEN 'cold'
            ELSE 'ns' END AS spot
FROM ggz
"""


def gstar_by_doc(px: DataFrame) -> DataFrame:
    """Gi* z-score per (doc, cell) with PER-DOC global moments — the
    per-time-slice stage of emerging-hotspot analysis (doc_id = the time
    bin). Same two-shuffle shape as :func:`getis_ord_gstar`; the moments
    frame is per-doc (time-bin cardinality) and broadcast into the join.
    Input must be unique per (doc_id, cell) — pre-aggregate first.
    """
    g = focal_conv(px, "v", {"gsum": GSTAR})
    v = F.col("v").cast("double")
    stats = px.groupBy("doc_id").agg(
        F.count(v).alias("_n"), F.avg(v).alias("_mu"),
        F.avg(v * v).alias("_msq"))
    j = g.join(F.broadcast(stats), "doc_id")
    wi = F.col("n_neigh").cast("double")
    s = F.sqrt(F.col("_msq") - F.col("_mu") * F.col("_mu"))
    num = F.col("gsum") - F.col("_mu") * wi
    den = s * F.sqrt((F.col("_n") * wi - wi * wi) / (F.col("_n") - 1))
    den = F.when(den != 0, den)
    return j.select("doc_id", "ix", "iy",
                    F.col("v").cast("double").alias("v"),
                    F.col("n_neigh").alias("w_i"),
                    F.round(num / den, 6).alias("gi_z"))


def gstar_by_doc_sql(cells_sql: str, value_sql: str = "v") -> str:
    """DuckDB oracle for :func:`gstar_by_doc`. ``cells_sql`` must yield
    unique (doc_id, ix, iy) rows plus the value expression's inputs."""
    vsql = (f"SELECT doc_id, ix, iy, CAST({value_sql} AS DOUBLE) AS v "
            f"FROM ({cells_sql})")
    conv = focal_conv_sql(vsql, "v", {"gsum": GSTAR})
    return f"""
WITH gdc AS ({conv}),
gdv AS ({vsql}),
gds AS (SELECT doc_id, COUNT(v) AS n, AVG(v) AS mu, AVG(v * v) AS msq
        FROM gdv GROUP BY doc_id)
SELECT g.doc_id, g.ix, g.iy, z.v AS {value_sql}, g.n_neigh AS w_i,
       ROUND((g.gsum - s.mu * CAST(g.n_neigh AS DOUBLE))
             / NULLIF(SQRT(s.msq - s.mu * s.mu)
                      * SQRT((s.n * CAST(g.n_neigh AS DOUBLE)
                              - CAST(g.n_neigh AS DOUBLE)
                                * CAST(g.n_neigh AS DOUBLE))
                             / (s.n - 1)), 0), 6) AS gi_z
FROM gdc g
JOIN gdv z ON g.doc_id = z.doc_id AND g.ix = z.ix AND g.iy = z.iy
JOIN gds s ON g.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# Empirical variogram (geostatistics spatial-structure summary)
# ---------------------------------------------------------------------------

def _variogram_offsets(max_d2: int):
    """Unordered half-plane offset classes up to squared distance
    ``max_d2`` — each cell pair counted exactly once."""
    r = int(math.isqrt(max_d2)) + 1
    return [(dx, dy) for dx in range(-r, r + 1) for dy in range(-r, r + 1)
            if (dx > 0 or (dx == 0 and dy > 0))
            and 0 < dx * dx + dy * dy <= max_d2]


def variogram(dem: DataFrame, max_d2: int = 8) -> DataFrame:
    """Empirical semivariogram of a cell raster — the geostatistics
    spatial-structure summary (nugget/sill/range read-off, kriging
    input): ``γ(h) = Σ(vᵢ−vⱼ)² / (2·N(h))`` over all unordered cell
    pairs whose offset has squared length h ≤ ``max_d2``, one row per
    distinct lag class.

    Shape: same machinery as :func:`flow_direction` — a constant
    |offsets|× sender explode, ONE co-partitioned grid equi-join (never
    an all-pairs distance join: lags are bounded offsets, so candidate
    pairs are bounded by grid adjacency), and a hash agg at lag-class
    cardinality (≤ a dozen rows). At 10¹² cells this moves
    |offsets|·cells rows through one local join, nothing quadratic.
    """
    offs = _variogram_offsets(max_d2)
    base = _dem_grid(dem)
    contrib = _shift(base.select("ix", "iy", F.col("v").alias("vs")), -1,
                     [(dx, dy, dx * dx + dy * dy) for dx, dy in offs],
                     ("d2",))
    j = contrib.join(base, ["ix", "iy"])
    dd = F.col("v") - F.col("vs")
    return (j.groupBy("d2")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.round(F.sum(dd * dd) / (2.0 * F.count("*")), 6)
                 .alias("gamma"))
            .select(F.col("d2").cast("int").alias("d2"),
                    F.round(F.sqrt(F.col("d2").cast("double")), 6)
                    .alias("lag"),
                    "n_pairs", "gamma"))


def variogram_sql(dem_path: str, max_d2: int = 8,
                  value_col: str = "elevation") -> str:
    """DuckDB oracle: identical decode, half-plane offset table, join,
    and per-lag reduction."""
    offs = _variogram_offsets(max_d2)
    rows = ", ".join(f"({dx}, {dy}, {dx * dx + dy * dy})"
                     for dx, dy in offs)
    return f"""
WITH vgb AS (
  SELECT CAST(cell % 4294967296 AS BIGINT) AS ix,
         CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
         CAST({value_col} AS DOUBLE) AS v
  FROM read_parquet('{dem_path}')
),
vgo (dx, dy, d2) AS (VALUES {rows}),
vgc AS (
  SELECT ix - dx AS ix, iy - dy AS iy, v AS vs, d2
  FROM vgb, vgo
),
vgj AS (
  SELECT c.d2, b.v, c.vs
  FROM vgc c JOIN vgb b ON c.ix = b.ix AND c.iy = b.iy
)
SELECT CAST(d2 AS INT) AS d2,
       ROUND(SQRT(CAST(d2 AS DOUBLE)), 6) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(SUM((v - vs) * (v - vs)) / (2.0 * COUNT(*)), 6) AS gamma
FROM vgj GROUP BY d2
"""


def flow_accumulation(dem: DataFrame, cell_m: float = CELL_SIZE_M) -> DataFrame:
    """D8 flow accumulation — upstream contributing-cell count per cell
    (the watershed/catchment-area primitive under stream extraction and
    the topographic wetness index): ``acc(v) = 1 + Σ acc(u)`` over all
    cells u whose steepest-descent path drains through v.

    Shape: the drainage graph from :func:`flow_direction` is a forest
    (≤ 1 out-edge per cell), so the fixpoint iteration
    ``accₖ₊₁(v) = 1 + Σ_{u→v} accₖ(u)`` is one key-co-partitioned join +
    one hash agg per round, converging after longest-drainage-path
    rounds (bounded by the DEM diameter, not cell count — the classic
    Pregel shape, same as the repo's connected components). Early-stop:
    Σacc strictly increases until the fixpoint, so one 1-row agg per
    round detects convergence; each round's frame is lazily
    checkpointed to keep lineage flat.
    """
    fd = flow_direction(dem, cell_m=cell_m)
    # decode the target cell from the power-of-two code via a literal map
    dx_expr = None
    dy_expr = None
    for dxv, dyv, c, _ in D8:
        cond = F.col("flow_code") == c
        dx_expr = F.when(cond, dxv) if dx_expr is None \
            else dx_expr.when(cond, dxv)
        dy_expr = F.when(cond, dyv) if dy_expr is None \
            else dy_expr.when(cond, dyv)
    edges = (fd.filter(F.col("flow_code") > 0)
             .select("ix", "iy",
                     (F.col("ix") + dx_expr).alias("tix"),
                     (F.col("iy") + dy_expr).alias("tiy"))
             .localCheckpoint(eager=False))
    cells = fd.select("ix", "iy").localCheckpoint(eager=False)
    acc = cells.withColumn("acc", F.lit(1).cast("long"))
    prev_total = acc.agg(F.sum("acc")).collect()[0][0]
    for _ in range(64):
        inflow = (edges.join(acc, ["ix", "iy"])
                  .groupBy(F.col("tix").alias("ix"),
                           F.col("tiy").alias("iy"))
                  .agg(F.sum("acc").alias("_in")))
        acc = (cells.join(inflow, ["ix", "iy"], "left")
               .select("ix", "iy",
                       (F.lit(1) + F.coalesce(F.col("_in"), F.lit(0)))
                       .cast("long").alias("acc"))
               .localCheckpoint(eager=False))
        total = acc.agg(F.sum("acc")).collect()[0][0]
        if total == prev_total:
            break
        prev_total = total
    return acc.select("ix", "iy", F.col("acc").alias("n_upstream_plus_self"))


def flow_accumulation_sql(dem_path: str, value_col: str = "elevation"
                          ) -> str:
    """DuckDB oracle: the drainage forest from :func:`flow_direction_sql`,
    then a recursive closure (each node has ≤1 out-edge, so the closure
    is linear in total path length) counted per destination."""
    rows = ", ".join(f"({dx}, {dy}, {c})" for dx, dy, c, _ in D8)
    fd = flow_direction_sql(dem_path, value_col=value_col)
    return f"""
WITH fdall AS ({fd}),
fedge AS (
  SELECT f.ix, f.iy, f.ix + m.dx AS tix, f.iy + m.dy AS tiy
  FROM fdall f JOIN (VALUES {rows}) m(dx, dy, code)
    ON f.flow_code = m.code
  WHERE f.flow_code > 0
),
fpaths AS (
  WITH RECURSIVE r(six, siy, ix, iy) AS (
    SELECT ix, iy, tix, tiy FROM fedge
    UNION ALL
    SELECT r.six, r.siy, e.tix, e.tiy
    FROM r JOIN fedge e ON r.ix = e.ix AND r.iy = e.iy
  )
  SELECT * FROM r
),
fcnt AS (
  SELECT ix, iy, COUNT(*) AS n_up FROM fpaths GROUP BY ix, iy
)
SELECT c.ix, c.iy,
       CAST(1 + COALESCE(n.n_up, 0) AS BIGINT) AS n_upstream_plus_self
FROM (SELECT ix, iy FROM fdall) c
LEFT JOIN fcnt n ON c.ix = n.ix AND c.iy = n.iy
"""


def wetness_index(dem: DataFrame, cell_m: float = CELL_SIZE_M) -> DataFrame:
    """Topographic wetness index — ``TWI = ln(a / tan β)`` with
    ``a = acc·cell`` the specific catchment area (upstream cells ×
    cell size per unit contour width) and β the Horn slope: THE
    composite soil-moisture/runoff predictor, and the canonical
    CONSUMER of both :func:`flow_accumulation` and the Horn gradients.

    Shape: gradients ride one :func:`focal_conv` pass, the catchment
    area is the Pregel fixpoint, and the two meet in ONE
    co-partitioned (ix, iy) equi-join; the index itself is codegen.
    Flat cells (tan β = 0) yield NULL — standard practice is a slope
    floor; NULL keeps the operator assumption-free and lets callers
    pick their floor. Border cells (partial stencil) are dropped as in
    hillshade.
    """
    px = dem_pixels(dem, cell_m)
    g = (focal_conv(px, "elevation", {"gx": SOBEL_GX, "gy": SOBEL_GY})
         .filter(F.col("n_neigh") == 9))
    k = 1.0 / (8.0 * float(cell_m))
    dzdx = F.col("gx") * F.lit(k)
    dzdy = F.col("gy") * F.lit(k)
    tanb = F.sqrt(dzdx * dzdx + dzdy * dzdy)
    acc = flow_accumulation(dem, cell_m=cell_m)
    j = g.join(acc, ["ix", "iy"])
    a = F.col("n_upstream_plus_self").cast("double") * float(cell_m)
    twi = F.log(a / F.when(tanb != 0, tanb))
    return j.select("ix", "iy", F.col("elevation"),
                    "n_upstream_plus_self",
                    F.round(F.degrees(F.atan(tanb)), 6).alias("slope_deg"),
                    F.round(twi, 6).alias("twi"))


def wetness_index_sql(dem_path: str, cell_m: float = CELL_SIZE_M,
                      value_col: str = "elevation",
                      z_factor: float = 1.0) -> str:
    """DuckDB oracle: the recursive-closure accumulation joined to the
    identical focal-gradient slope, same guard and formula."""
    pixels = (f"SELECT 'dem' AS doc_id, "
              f"CAST(cell % 4294967296 AS BIGINT) AS ix, "
              f"CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy, "
              f"{value_col} FROM read_parquet('{dem_path}')")
    conv = focal_conv_sql(pixels, value_col,
                          {"gx": SOBEL_GX, "gy": SOBEL_GY})
    acc = flow_accumulation_sql(dem_path, value_col=value_col)
    k = float(z_factor) / (8.0 * float(cell_m))
    return f"""
WITH wconv AS ({conv}),
wg AS (
  SELECT ix, iy,
         sqrt((gx * {k!r}) * (gx * {k!r})
              + (gy * {k!r}) * (gy * {k!r})) AS tanb
  FROM wconv WHERE n_neigh = 9
),
wacc AS ({acc}),
wpx AS ({pixels})
SELECT g.ix, g.iy, p.{value_col}, a.n_upstream_plus_self,
       ROUND(degrees(atan(g.tanb)), 6) AS slope_deg,
       ROUND(ln(CAST(a.n_upstream_plus_self AS DOUBLE) * {float(cell_m)!r}
                / NULLIF(g.tanb, 0)), 6) AS twi
FROM wg g
JOIN wacc a ON g.ix = a.ix AND g.iy = a.iy
JOIN wpx p ON g.ix = p.ix AND g.iy = p.iy
"""


def local_morans_i(px: DataFrame) -> DataFrame:
    """Local Moran's I (LISA) per cell with cluster typing — where the
    global :func:`morans_i` number actually comes from, and the classic
    cluster/outlier map: ``Iᵢ = (zᵢ/m₂)·lagᵢ`` with m₂ = Σz²/n and the
    row-standardized spatial lag (mean neighbor z, queen contiguity);
    quadrant HH/LL = cluster, HL/LH = spatial outlier, classified on
    the ROUNDED z and lag so both engines quantize identically.

    Shape: identical to :func:`getis_ord_gstar` — one broadcast 1-row
    moments agg, ONE focal_conv stencil pass, codegen projection; two
    cell-cardinality shuffles total. Isolated cells (no realized
    neighbor) yield NULL lag/I.
    """
    v = F.col("elevation").cast("double")
    # the 1-row moments frame feeds TWO broadcasts (z projection and the
    # m2 re-join) — checkpoint it so the raster scans once for moments
    stats = (px.agg(F.count(v).alias("_n"), F.avg(v).alias("_mu"),
                    F.avg(v * v).alias("_msq"))
             .localCheckpoint(eager=False))
    # only _z rides through the stencil pass (the stats columns would
    # collide with focal_conv's internal aliases); m2 re-joins after
    z = (px.crossJoin(F.broadcast(stats))
         .withColumn("_z", v - F.col("_mu"))
         .drop("_n", "_mu", "_msq"))
    g = (focal_conv(z, "_z", {"nsum": QUEEN})
         .crossJoin(F.broadcast(stats)))
    links = F.col("n_neigh") - 1          # stencil counts the center
    lag = F.col("nsum") / F.when(links > 0, links.cast("double"))
    m2 = F.col("_msq") - F.col("_mu") * F.col("_mu")
    li = (F.col("_z") / m2) * lag
    zr = F.round(F.col("_z"), 6)
    lagr = F.round(lag, 6)
    quad = (F.when(lagr.isNull(), F.lit("isolated"))
             .when((zr > 0) & (lagr > 0), F.lit("HH"))
             .when((zr < 0) & (lagr < 0), F.lit("LL"))
             .when((zr > 0) & (lagr <= 0), F.lit("HL"))
             .when((zr < 0) & (lagr >= 0), F.lit("LH"))
             .otherwise(F.lit("zero")))
    return g.select("ix", "iy", F.col("elevation").cast("double")
                    .alias("elevation"),
                    links.cast("int").alias("n_links"),
                    zr.alias("z"), lagr.alias("lag_z"),
                    F.round(li, 6).alias("local_i"),
                    quad.alias("quadrant"))


def local_morans_i_sql(cells_sql: str, value_sql: str = "elevation"
                       ) -> str:
    """DuckDB oracle: identical moments, stencil pass, lag guard, and
    rounded-quadrant classification. ``cells_sql`` must yield unique
    (doc_id, ix, iy) rows plus the value expression's inputs."""
    zsql = f"""SELECT doc_id, ix, iy,
       CAST({value_sql} AS DOUBLE) AS v,
       CAST({value_sql} AS DOUBLE)
       - AVG(CAST({value_sql} AS DOUBLE)) OVER () AS z,
       AVG(CAST({value_sql} AS DOUBLE) * CAST({value_sql} AS DOUBLE))
         OVER ()
       - AVG(CAST({value_sql} AS DOUBLE)) OVER ()
         * AVG(CAST({value_sql} AS DOUBLE)) OVER () AS m2
FROM ({cells_sql})"""
    conv = focal_conv_sql(zsql, "z", {"nsum": QUEEN})
    return f"""
WITH lmc AS ({conv}),
lmz AS ({zsql}),
lmj AS (
  SELECT g.ix, g.iy, z.v, z.z, z.m2, g.n_neigh - 1 AS n_links,
         g.nsum / CASE WHEN g.n_neigh - 1 > 0
                       THEN CAST(g.n_neigh - 1 AS DOUBLE) END AS lag
  FROM lmc g JOIN lmz z ON g.ix = z.ix AND g.iy = z.iy
),
lmr AS (
  SELECT ix, iy, v, CAST(n_links AS INT) AS n_links,
         ROUND(z, 6) AS z, ROUND(lag, 6) AS lag_z,
         ROUND((z / m2) * lag, 6) AS local_i
  FROM lmj
)
SELECT ix, iy, v AS {value_sql}, n_links, z, lag_z, local_i,
       CASE WHEN lag_z IS NULL THEN 'isolated'
            WHEN z > 0 AND lag_z > 0 THEN 'HH'
            WHEN z < 0 AND lag_z < 0 THEN 'LL'
            WHEN z > 0 AND lag_z <= 0 THEN 'HL'
            WHEN z < 0 AND lag_z >= 0 THEN 'LH'
            ELSE 'zero' END AS quadrant
FROM lmr
"""


# ---------------------------------------------------------------------------
# Contour extraction (marching squares)
# ---------------------------------------------------------------------------

def _ms_exprs(threshold: float):
    """Shared Spark/DuckDB SQL expression strings for marching squares:
    case index (BL + 2·BR + 4·TR + 8·TL above-threshold bits), the four
    linearly-interpolated edge-crossing points (grid units; NULLIF
    guards — an edge is only SELECTED when its endpoints straddle T, so
    the guarded division is never consumed as NULL), and the per-case
    edge-pair selection with the center-mean saddle rule. One source of
    truth parsed by both engines."""
    t = repr(float(threshold))
    bit = {c: f"(CASE WHEN {c} >= {t} THEN 1 ELSE 0 END)"
           for c in ("v00", "v10", "v11", "v01")}
    idx = (f"({bit['v00']} + 2 * {bit['v10']} + 4 * {bit['v11']}"
           f" + 8 * {bit['v01']})")
    center = f"((v00 + v10 + v11 + v01) / 4.0 >= {t})"
    pts = {
        "B": (f"ix + ({t} - v00) / NULLIF(v10 - v00, 0)", "CAST(iy AS DOUBLE)"),
        "T": (f"ix + ({t} - v01) / NULLIF(v11 - v01, 0)", "iy + 1.0"),
        "L": ("CAST(ix AS DOUBLE)", f"iy + ({t} - v00) / NULLIF(v01 - v00, 0)"),
        "R": ("ix + 1.0", f"iy + ({t} - v10) / NULLIF(v11 - v10, 0)"),
    }
    s1a = f"""CASE {idx}
 WHEN 1 THEN 'L' WHEN 2 THEN 'B' WHEN 3 THEN 'L' WHEN 4 THEN 'T'
 WHEN 5 THEN 'L' WHEN 6 THEN 'B' WHEN 7 THEN 'L' WHEN 8 THEN 'L'
 WHEN 9 THEN 'B' WHEN 10 THEN 'L' WHEN 11 THEN 'T' WHEN 12 THEN 'L'
 WHEN 13 THEN 'B' WHEN 14 THEN 'L' END"""
    s1b = f"""CASE {idx}
 WHEN 1 THEN 'B' WHEN 2 THEN 'R' WHEN 3 THEN 'R' WHEN 4 THEN 'R'
 WHEN 5 THEN CASE WHEN {center} THEN 'T' ELSE 'B' END
 WHEN 6 THEN 'T' WHEN 7 THEN 'T' WHEN 8 THEN 'T' WHEN 9 THEN 'T'
 WHEN 10 THEN CASE WHEN {center} THEN 'B' ELSE 'T' END
 WHEN 11 THEN 'R' WHEN 12 THEN 'R' WHEN 13 THEN 'R' WHEN 14 THEN 'B'
 END"""
    s2a = f"""CASE {idx}
 WHEN 5 THEN CASE WHEN {center} THEN 'B' ELSE 'T' END
 WHEN 10 THEN CASE WHEN {center} THEN 'T' ELSE 'B' END END"""
    s2b = f"CASE WHEN {idx} IN (5, 10) THEN 'R' END"
    def coord(which, axis):
        arms = " ".join(f"WHEN '{e}' THEN ({pts[e][axis]})" for e in pts)
        return f"CASE {which} {arms} END"
    return idx, s1a, s1b, s2a, s2b, coord


def contour_segments(dem: DataFrame, threshold: float) -> DataFrame:
    """Marching-squares contour extraction at one iso-level — the
    vectorization step that turns a raster into GIS line work (elevation
    contours, NDVI iso-lines, plume boundaries): per 2×2 node block,
    emit 0–2 line segments whose endpoints are linear interpolations of
    the threshold crossing along block edges (grid units; saddles
    resolved by the center-mean rule — deterministic, stated).

    Shape: the 4-corner gather is ONE constant 4× offset explode + hash
    agg at block cardinality (the same no-self-join stencil shape as
    focal_conv); the case table, interpolation, and segment selection
    are pure codegen (shared expression strings, both engines); segment
    slots 1 and 2 are a 2-arm union of the same frame, lazily
    checkpointed so the gather runs once.
    """
    base = _dem_grid(dem)
    corners = [("v00", 0, 0), ("v10", 1, 0), ("v01", 0, 1), ("v11", 1, 1)]
    contrib = _shift(base, -1, [(dx, dy, n) for n, dx, dy in corners],
                     ("tag",))
    blocks = (contrib.groupBy("ix", "iy")
              .agg(F.count("*").alias("_nc"),
                   *[F.max(F.when(F.col("tag") == n, F.col("v")))
                     .alias(n) for n, _, _ in corners])
              .filter(F.col("_nc") == 4))
    idx, s1a, s1b, s2a, s2b, coord = _ms_exprs(threshold)
    blocks = (blocks.withColumn("case_idx", F.expr(idx))
              .filter("case_idx > 0 AND case_idx < 15")
              .withColumn("s1a", F.expr(s1a))
              .withColumn("s1b", F.expr(s1b))
              .withColumn("s2a", F.expr(s2a))
              .withColumn("s2b", F.expr(s2b))
              .localCheckpoint(eager=False))
    def emit(seg, a, b):
        return (blocks.filter(F.col(a).isNotNull())
                .select("ix", "iy", F.lit(seg).alias("seg"),
                        F.col(a).alias("edge_a"), F.col(b).alias("edge_b"),
                        F.round(F.expr(coord(a, 0)), 6).alias("x1"),
                        F.round(F.expr(coord(a, 1)), 6).alias("y1"),
                        F.round(F.expr(coord(b, 0)), 6).alias("x2"),
                        F.round(F.expr(coord(b, 1)), 6).alias("y2")))
    return emit(1, "s1a", "s1b").unionByName(emit(2, "s2a", "s2b"))


def contour_segments_sql(dem_path: str, threshold: float,
                         value_col: str = "elevation") -> str:
    """DuckDB oracle: identical gather, shared case/interpolation
    strings, identical 2-slot union."""
    idx, s1a, s1b, s2a, s2b, coord = _ms_exprs(threshold)
    corners = [("v00", 0, 0), ("v10", 1, 0), ("v01", 0, 1), ("v11", 1, 1)]
    rows = ", ".join(f"({dx}, {dy}, '{n}')" for n, dx, dy in corners)
    maxes = ", ".join(
        f"MAX(CASE WHEN tag = '{n}' THEN v END) AS {n}"
        for n, _, _ in corners)
    def arm(seg, a, b):
        return f"""SELECT ix, iy, {seg} AS seg, {a} AS edge_a, {b} AS edge_b,
       ROUND({coord(a, 0)}, 6) AS x1, ROUND({coord(a, 1)}, 6) AS y1,
       ROUND({coord(b, 0)}, 6) AS x2, ROUND({coord(b, 1)}, 6) AS y2
FROM msc WHERE {a} IS NOT NULL"""
    return f"""
WITH msb AS (
  SELECT CAST(cell % 4294967296 AS BIGINT) AS ix,
         CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
         CAST({value_col} AS DOUBLE) AS v
  FROM read_parquet('{dem_path}')
),
mso (dx, dy, tag) AS (VALUES {rows}),
msg AS (
  SELECT b.ix - o.dx AS ix, b.iy - o.dy AS iy, b.v, o.tag
  FROM msb b, mso o
),
msa AS (
  SELECT ix, iy, COUNT(*) AS nc, {maxes}
  FROM msg GROUP BY ix, iy
),
msc AS (
  SELECT *, {idx} AS case_idx,
         {s1a} AS s1a, {s1b} AS s1b, {s2a} AS s2a, {s2b} AS s2b
  FROM msa
  WHERE nc = 4 AND {idx} > 0 AND {idx} < 15
)
{arm(1, 's1a', 's1b')}
UNION ALL
{arm(2, 's2a', 's2b')}
"""


def terrain_indices(dem: DataFrame) -> DataFrame:
    """Terrain position / ruggedness indices per DEM cell — the
    morphometry trio every terrain stack derives right after slope:
    TPI = v − mean(8 neighbors) (ridge + / valley −), TRI = mean
    |v − neighbor| (Riley's ruggedness, Wilson's mean-absolute form),
    and roughness = max − min over the full 3×3 window. Edge cells use
    the neighbors that exist (``n_neighbors`` says how many).

    Shape: the same constant-8× sender explode + ONE co-partitioned
    grid equi-join as :func:`variogram`/:func:`flow_direction`, then a
    hash agg back at cell cardinality — never a self-join over the
    raster, no window over cell order. At 10¹² cells: 8×cells rows
    through one equi-join, all map-side combinable.
    """
    base = _dem_grid(dem)
    # each cell SENDS its value to the 8 surrounding cells; the
    # receiver aggregates what arrives
    sent = _shift(base.select("ix", "iy", F.col("v").alias("vs")), 1,
                  sorted(QUEEN))
    cj = (sent.join(base, ["ix", "iy"])
          .groupBy("ix", "iy")
          .agg(F.count("*").cast("int").alias("n_neighbors"),
               F.avg("vs").alias("nb_mean"),
               F.max("vs").alias("nb_max"), F.min("vs").alias("nb_min"),
               F.avg(F.abs(F.col("v") - F.col("vs"))).alias("tri"),
               F.first("v").alias("v")))
    return cj.select(
        (F.col("iy") * F.lit(2 ** 32) + F.col("ix")).alias("cell"),
        F.round("v", 6).alias("elevation"),
        "n_neighbors",
        F.round(F.col("v") - F.col("nb_mean"), 6).alias("tpi"),
        F.round("tri", 6).alias("tri"),
        F.round(F.greatest("nb_max", "v") - F.least("nb_min", "v"), 6)
        .alias("roughness"))


def terrain_indices_sql(dem_path: str, value_col: str = "elevation"
                        ) -> str:
    """DuckDB oracle: identical decode, 8-neighbor send, and per-cell
    reductions."""
    rows = ", ".join(f"({dx}, {dy})" for dx, dy in sorted(QUEEN))
    return f"""
WITH tib AS (
  SELECT CAST(cell % 4294967296 AS BIGINT) AS ix,
         CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
         CAST({value_col} AS DOUBLE) AS v
  FROM read_parquet('{dem_path}')
),
tio (dx, dy) AS (VALUES {rows}),
tis AS (
  SELECT ix + dx AS ix, iy + dy AS iy, v AS vs
  FROM tib, tio
),
tij AS (
  SELECT b.ix, b.iy, b.v, s.vs
  FROM tis s JOIN tib b ON s.ix = b.ix AND s.iy = b.iy
)
SELECT CAST(iy * 4294967296 + ix AS BIGINT) AS cell,
       ROUND(ANY_VALUE(v), 6) AS elevation,
       CAST(COUNT(*) AS INT) AS n_neighbors,
       ROUND(ANY_VALUE(v) - AVG(vs), 6) AS tpi,
       ROUND(AVG(ABS(v - vs)), 6) AS tri,
       ROUND(GREATEST(MAX(vs), ANY_VALUE(v))
             - LEAST(MIN(vs), ANY_VALUE(v)), 6) AS roughness
FROM tij GROUP BY ix, iy
"""


def ripley_k(points: DataFrame) -> DataFrame:
    """Ripley's K point-pattern statistic per key — the
    clustered-vs-dispersed test for spatial point sets (are the
    high-NDVI pixels / fire detections / settlements clumped beyond
    chance?): ``K̂(r) = A·2·pairs(≤r) / (n(n−1))`` with the variance-
    stabilized ``L(r) = √(K/π)`` (L ≈ r under complete spatial
    randomness, L > r clustered, L < r dispersed). No edge correction
    (naive estimator); A is the bounding-box window padded by one 20 m
    pixel, so a single pixel has area 20².  Radii are 30, 60 and 90 m.

    Shape: NEVER an all-pairs join — each point probes a 3×3 block of
    90 m buckets (constant 9× fan-out), candidates meet
    in ONE (key, bucket) equi-join, the lexicographic (x, y) order
    counts every unordered pair once, and all radii reduce in a single
    hash agg at key cardinality. At 10¹² points candidate volume is
    bounded by local density × 9 buckets, not n².
    """
    radii = (30.0, 60.0, 90.0)
    rmax = radii[-1]
    base = points.select(
        "doc_id",
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
        F.floor(F.col("x") / rmax).cast("long").alias("bx"),
        F.floor(F.col("y") / rmax).cast("long").alias("by"))
    base = base.localCheckpoint(eager=False)
    stats = base.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_points"),
        ((F.max("x") - F.min("x") + 20.0)
         * (F.max("y") - F.min("y") + 20.0)).alias("area"))
    probe = _shift(base.select("doc_id", F.col("x").alias("ax"),
                               F.col("y").alias("ay"), "bx", "by"),
                   1, sorted(GSTAR), xy=("bx", "by"))
    cand = (probe.join(base, ["doc_id", "bx", "by"])
            .filter((F.col("ax") < F.col("x"))
                    | ((F.col("ax") == F.col("x"))
                       & (F.col("ay") < F.col("y"))))
            .withColumn("d2", (F.col("x") - F.col("ax")) ** 2
                        + (F.col("y") - F.col("ay")) ** 2)
            .filter(F.col("d2") <= rmax * rmax))
    paggs = [F.sum(F.when(F.col("d2") <= r * r, 1).otherwise(0))
             .cast("long").alias(f"_p{i}") for i, r in enumerate(radii)]
    pairs = cand.groupBy("doc_id").agg(*paggs)
    out = stats.join(pairs, on=["doc_id"], how="left")
    cols = ["doc_id", F.col("n_points"), F.round("area", 6).alias("area")]
    for i, r in enumerate(radii):
        p = F.coalesce(F.col(f"_p{i}"), F.lit(0))
        nn = F.col("n_points") * (F.col("n_points") - 1)
        k = F.col("area") * 2.0 * p / F.when(nn != 0, nn.cast("double"))
        tag = str(int(r)) if float(r).is_integer() else str(r).replace(".", "_")
        cols.append(p.cast("long").alias(f"pairs_{tag}"))
        cols.append(F.round(k, 6).alias(f"k_{tag}"))
        cols.append(F.round(F.sqrt(k / math.pi), 6).alias(f"l_{tag}"))
    return out.select(*cols)


def ripley_k_sql(points_sql: str, key_cols: Tuple[str, ...] = ("doc_id",),
                 x_col: str = "x", y_col: str = "y",
                 radii: Tuple[float, ...] = (30.0, 60.0, 90.0),
                 gsd: float = 20.0) -> str:
    """DuckDB oracle: brute-force per-key self-join (an INDEPENDENT
    algorithm — no buckets, so it also pins the bucketing's
    completeness), identical lexicographic dedup and reductions."""
    rmax = float(max(radii))
    keys = ", ".join(key_cols)
    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    outs = []
    for r in radii:
        tag = str(int(r)) if float(r).is_integer() else str(r).replace(".", "_")
        outs.append(
            f"CAST(COALESCE(SUM(CASE WHEN d2 <= {r * r!r} THEN 1 END), 0)"
            f" AS BIGINT) AS pairs_{tag},\n"
            f"       ROUND(ANY_VALUE(area) * 2.0 *"
            f" COALESCE(SUM(CASE WHEN d2 <= {r * r!r} THEN 1 END), 0)"
            f" / NULLIF(ANY_VALUE(n_points) * (ANY_VALUE(n_points) - 1),"
            f" 0), 6) AS k_{tag},\n"
            f"       ROUND(SQRT(ANY_VALUE(area) * 2.0 *"
            f" COALESCE(SUM(CASE WHEN d2 <= {r * r!r} THEN 1 END), 0)"
            f" / NULLIF(ANY_VALUE(n_points) * (ANY_VALUE(n_points) - 1),"
            f" 0) / PI()), 6) AS l_{tag}")
    outs_sql = ",\n       ".join(outs)
    return f"""
WITH rksrc AS ({points_sql}),
rkb AS (
  SELECT {keys}, CAST({x_col} AS DOUBLE) AS x,
         CAST({y_col} AS DOUBLE) AS y
  FROM rksrc
),
rks AS (
  SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_points,
         (MAX(x) - MIN(x) + {gsd!r}) * (MAX(y) - MIN(y) + {gsd!r}) AS area
  FROM rkb GROUP BY {keys}
),
rkp AS (
  SELECT a.{key_cols[0]} AS _k0{"".join(f", a.{k} AS _k{i}" for i, k in enumerate(key_cols) if i > 0)},
         (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS d2
  FROM rkb a JOIN rkb b ON {on}
   AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
  WHERE (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
         <= {rmax * rmax!r}
)
SELECT s.{key_cols[0]}{"".join(f", s.{k}" for k in key_cols[1:])}, s.n_points,
       ROUND(ANY_VALUE(s.area), 6) AS area,
       {outs_sql}
FROM rks s LEFT JOIN rkp p ON {" AND ".join(f"s.{k} = p._k{i}" for i, k in enumerate(key_cols))}
GROUP BY s.{key_cols[0]}{"".join(f", s.{k}" for k in key_cols[1:])}, s.n_points
"""


def clark_evans(points: DataFrame) -> DataFrame:
    """Clark-Evans nearest-neighbor index per key — the one-number
    companion of :func:`ripley_k` (R = observed mean NN distance /
    expected under CSR; R < 1 clustered, R ≈ 1 random, R > 1 dispersed)
    with the normal z-score ``(d̄−E)/SE``, ``E = 0.5/√(n/A)``,
    ``SE = 0.26136/√(n²/A)``. Naive estimator (no edge correction);
    the NN search is truncated at 90 m and ``n_matched`` reports
    how many points found a neighbor there — interpret R only when
    n_matched = n_points.

    Shape: the same constant 9× bucket probe + ONE (key, bucket)
    equi-join as :func:`ripley_k`, a min-d² hash agg at point
    cardinality, and a key-cardinality agg. Never an all-pairs join.
    """
    base = points.select(
        "doc_id",
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
        F.floor(F.col("x") / 90.0).cast("long").alias("bx"),
        F.floor(F.col("y") / 90.0).cast("long").alias("by"))
    base = base.localCheckpoint(eager=False)
    stats = base.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_points"),
        ((F.max("x") - F.min("x") + 20.0)
         * (F.max("y") - F.min("y") + 20.0)).alias("area"))
    probe = _shift(base.select("doc_id", F.col("x").alias("ax"),
                               F.col("y").alias("ay"), "bx", "by"),
                   1, sorted(GSTAR), xy=("bx", "by"))
    nn = (probe.join(base, ["doc_id", "bx", "by"])
          .filter((F.col("ax") != F.col("x"))
                  | (F.col("ay") != F.col("y")))
          .withColumn("d2", (F.col("x") - F.col("ax")) ** 2
                      + (F.col("y") - F.col("ay")) ** 2)
          .filter(F.col("d2") <= 90.0 * 90.0)
          .groupBy("doc_id", "ax", "ay")
          .agg(F.min("d2").alias("nnd2")))
    magg = nn.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_matched"),
        F.avg(F.sqrt("nnd2")).alias("dbar"))
    out = stats.join(magg, on=["doc_id"], how="left")
    e = 0.5 / F.sqrt(F.col("n_points") / F.col("area"))
    se = 0.26136 / F.sqrt(F.col("n_points") * F.col("n_points")
                          / F.col("area"))
    return out.select(
        "doc_id", "n_points",
        F.coalesce(F.col("n_matched"), F.lit(0)).alias("n_matched"),
        F.round("area", 6).alias("area"),
        F.round("dbar", 6).alias("mean_nn_dist"),
        F.round(F.col("dbar") / e, 6).alias("ce_ratio"),
        F.round((F.col("dbar") - e) / se, 6).alias("ce_z"))


def clark_evans_sql(points_sql: str,
                    key_cols: Tuple[str, ...] = ("doc_id",),
                    x_col: str = "x", y_col: str = "y",
                    radius: float = 90.0, gsd: float = 20.0) -> str:
    """DuckDB oracle: brute-force per-key NN (independent algorithm —
    also pins bucket completeness), identical truncation and folds."""
    keys = ", ".join(key_cols)
    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    akeys = ", ".join(f"a.{k} AS {k}" for k in key_cols)
    agg_keys = ", ".join(f"a.{k}" for k in key_cols)
    return f"""
WITH cesrc AS ({points_sql}),
ceb AS (
  SELECT {keys}, CAST({x_col} AS DOUBLE) AS x,
         CAST({y_col} AS DOUBLE) AS y
  FROM cesrc
),
ces AS (
  SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_points,
         (MAX(x) - MIN(x) + {gsd!r}) * (MAX(y) - MIN(y) + {gsd!r}) AS area
  FROM ceb GROUP BY {keys}
),
cen AS (
  SELECT {akeys}, a.x AS ax, a.y AS ay,
         MIN((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y))
           AS nnd2
  FROM ceb a JOIN ceb b ON {on}
   AND (a.x <> b.x OR a.y <> b.y)
  WHERE (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
         <= {radius * radius!r}
  GROUP BY {agg_keys}, a.x, a.y
),
cem AS (
  SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_matched,
         AVG(SQRT(nnd2)) AS dbar
  FROM cen GROUP BY {keys}
)
SELECT s.{key_cols[0]}{"".join(f", s.{k}" for k in key_cols[1:])}, s.n_points,
       COALESCE(m.n_matched, 0) AS n_matched,
       ROUND(s.area, 6) AS area,
       ROUND(m.dbar, 6) AS mean_nn_dist,
       ROUND(m.dbar / (0.5 / SQRT(s.n_points / s.area)), 6) AS ce_ratio,
       ROUND((m.dbar - 0.5 / SQRT(s.n_points / s.area))
             / (0.26136 / SQRT(s.n_points * s.n_points / s.area)), 6)
         AS ce_z
FROM ces s LEFT JOIN cem m ON {" AND ".join(f"s.{k} = m.{k}" for k in key_cols)}
"""


def kde_grid(points: DataFrame,
             bandwidth: float = 40.0, cell_m: float = CELL_SIZE_M
             ) -> DataFrame:
    """Gaussian kernel density estimate evaluated at the occupied grid
    cells per key — the continuous hotspot surface (where is activity
    densest, smoothed past the raster's graininess?). Cutoff at 3σ:
    ``kernel_sum(c) = Σ_{d≤3h} exp(−d²/2h²)`` over points near the cell
    center, and ``density = round(kernel_sum,6) / (2πh²n)`` — the
    normalization divides the ROUNDED sum so both engines derive the
    quotient from the identical double (summation order differs between
    engines; the raw sum only agrees to ~1e-15 relative).

    Shape: evaluation sites are the DISTINCT occupied cells (a hash agg
    at cell cardinality); each point replicates into the constant 3×3
    block of 3h-sized buckets; candidates meet in ONE (key, bucket)
    equi-join and reduce in a cell-cardinality hash agg. Nothing
    quadratic, no full grid materialized.
    """
    cutoff = 3.0 * bandwidth
    base = points.select(
        "doc_id",
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"))
    base = base.localCheckpoint(eager=False)
    npts = base.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_points"))
    cells = (base.select(
        "doc_id",
        F.floor(F.col("x") / cell_m).cast("long").alias("cx"),
        F.floor(F.col("y") / cell_m).cast("long").alias("cy"))
        .distinct()
        .select("doc_id", "cx", "cy",
                ((F.col("cx") + 0.5) * cell_m).alias("ex"),
                ((F.col("cy") + 0.5) * cell_m).alias("ey"))
        .withColumn("bx", F.floor(F.col("ex") / cutoff).cast("long"))
        .withColumn("by", F.floor(F.col("ey") / cutoff).cast("long")))
    sent = _shift(base.select(
        "doc_id", "x", "y",
        F.floor(F.col("x") / cutoff).cast("long").alias("bx"),
        F.floor(F.col("y") / cutoff).cast("long").alias("by")),
        1, sorted(GSTAR), xy=("bx", "by"))
    h2 = bandwidth * bandwidth
    j = (sent.join(cells, ["doc_id", "bx", "by"])
         .withColumn("d2", (F.col("x") - F.col("ex")) ** 2
                     + (F.col("y") - F.col("ey")) ** 2)
         .filter(F.col("d2") <= cutoff * cutoff))
    agg = (j.groupBy("doc_id", "cx", "cy")
           .agg(F.round(F.sum(F.exp(-F.col("d2") / (2.0 * h2))), 6)
                .alias("kernel_sum"),
                F.count("*").cast("long").alias("n_contrib")))
    out = agg.join(F.broadcast(npts), on=["doc_id"])
    return out.select(
        "doc_id", "cx", "cy", "n_contrib", "kernel_sum",
        F.round(F.col("kernel_sum")
                / (2.0 * math.pi * h2 * F.col("n_points")), 12)
        .alias("density"))


def kde_grid_sql(points_sql: str,
                 key_cols: Tuple[str, ...] = ("doc_id",),
                 x_col: str = "x", y_col: str = "y",
                 bandwidth: float = 40.0, cell_m: float = CELL_SIZE_M
                 ) -> str:
    """DuckDB oracle: brute-force cells × points within the cutoff (an
    independent algorithm — no buckets), identical kernel, the same
    round-then-normalize order."""
    cutoff = 3.0 * bandwidth
    h2 = bandwidth * bandwidth
    keys = ", ".join(key_cols)
    on = " AND ".join(f"c.{k} = p.{k}" for k in key_cols)
    ckeys = ", ".join(f"c.{k} AS {k}" for k in key_cols)
    agg_keys = ", ".join(f"c.{k}" for k in key_cols)
    return f"""
WITH kdsrc AS ({points_sql}),
kdb AS (
  SELECT {keys}, CAST({x_col} AS DOUBLE) AS x,
         CAST({y_col} AS DOUBLE) AS y
  FROM kdsrc
),
kdn AS (SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_points
        FROM kdb GROUP BY {keys}),
kdc AS (
  SELECT DISTINCT {keys},
         CAST(FLOOR(x / {cell_m!r}) AS BIGINT) AS cx,
         CAST(FLOOR(y / {cell_m!r}) AS BIGINT) AS cy
  FROM kdb
),
kde AS (
  SELECT {keys}, cx, cy,
         (cx + 0.5) * {cell_m!r} AS ex, (cy + 0.5) * {cell_m!r} AS ey
  FROM kdc
),
kda AS (
  SELECT {ckeys}, c.cx, c.cy,
         ROUND(SUM(EXP(-((p.x - c.ex) * (p.x - c.ex)
                         + (p.y - c.ey) * (p.y - c.ey))
                       / (2.0 * {h2!r}))), 6) AS kernel_sum,
         CAST(COUNT(*) AS BIGINT) AS n_contrib
  FROM kde c JOIN kdb p ON {on}
  WHERE (p.x - c.ex) * (p.x - c.ex) + (p.y - c.ey) * (p.y - c.ey)
         <= {cutoff * cutoff!r}
  GROUP BY {agg_keys}, c.cx, c.cy
)
SELECT {keys}, cx, cy, n_contrib, kernel_sum,
       ROUND(kernel_sum / (2.0 * PI() * {h2!r} * n_points), 12)
         AS density
FROM kda JOIN kdn USING ({keys})
"""


def knox_test(points: DataFrame) -> DataFrame:
    """Knox space-time interaction test per key — the epidemiology /
    disturbance-monitoring classic (do events cluster in space AND time
    TOGETHER, beyond what their separate spatial and temporal
    clustering implies?): over all unordered point pairs, ``X`` = pairs
    close in both (d ≤ 60 m, |Δt| ≤ 10 days), compared with the
    independence
    expectation ``E[X] = Ns·Nt/T`` (Ns spatial-close, Nt time-close,
    T total pairs); ratio > 1 = interaction. Input must be DISTINCT
    (key, x, y, t) rows; t is a day number (double).

    Shape: three different cardinalities, none all-pairs — T is pure
    arithmetic on n; Nt folds the per-(key, date) histogram (dates²
    per key, tiny) through one key equi-join; Ns and X share ONE
    bucketed spatial join (constant 9× fan-out at 60 m) with the
    lexicographic (x, y, t) dedup. The oracle computes all four from a
    brute-force pair join — a fully independent algorithm.
    """
    base = points.select(
        "aoi",
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
        F.col("td").cast("double").alias("td"),
        F.floor(F.col("x") / 60.0).cast("long").alias("bx"),
        F.floor(F.col("y") / 60.0).cast("long").alias("by"))
    base = base.localCheckpoint(eager=False)
    # T = n(n-1)/2
    nn = base.groupBy("aoi").agg(
        F.count("*").cast("long").alias("n_points"))
    # Nt from the per-date histogram
    hist = base.groupBy("aoi", "td").agg(
        F.count("*").cast("double").alias("c"))
    h1 = hist.select("aoi", F.col("td").alias("t1"), F.col("c").alias("c1"))
    h2 = hist.select("aoi", F.col("td").alias("t2"), F.col("c").alias("c2"))
    cross = (h1.join(h2, on=["aoi"])
             .filter((F.col("t1") < F.col("t2"))
                     & (F.col("t2") - F.col("t1") <= 10.0))
             .groupBy("aoi")
             .agg(F.sum(F.col("c1") * F.col("c2")).alias("nt_cross")))
    within = hist.groupBy("aoi").agg(
        F.sum(F.col("c") * (F.col("c") - 1) / 2.0).alias("nt_within"))
    # Ns and X from one bucketed join
    probe = _shift(base.select("aoi", F.col("x").alias("ax"),
                               F.col("y").alias("ay"),
                               F.col("td").alias("atd"), "bx", "by"),
                   1, sorted(GSTAR), xy=("bx", "by"))
    lex = ((F.col("ax") < F.col("x"))
           | ((F.col("ax") == F.col("x")) & (F.col("ay") < F.col("y")))
           | ((F.col("ax") == F.col("x")) & (F.col("ay") == F.col("y"))
              & (F.col("atd") < F.col("td"))))
    cand = (probe.join(base, ["aoi", "bx", "by"])
            .filter(lex)
            .withColumn("d2", (F.col("x") - F.col("ax")) ** 2
                        + (F.col("y") - F.col("ay")) ** 2)
            .filter(F.col("d2") <= 60.0 * 60.0))
    sx = cand.groupBy("aoi").agg(
        F.count("*").cast("long").alias("ns"),
        F.sum(F.when(F.abs(F.col("td") - F.col("atd")) <= 10.0, 1)
              .otherwise(0)).cast("long").alias("x_st"))
    out = (nn.join(within, on=["aoi"], how="left")
           .join(cross, on=["aoi"], how="left")
           .join(sx, on=["aoi"], how="left"))
    t_pairs = (F.col("n_points") * (F.col("n_points") - 1) / 2.0)
    nt = (F.coalesce(F.col("nt_within"), F.lit(0.0))
          + F.coalesce(F.col("nt_cross"), F.lit(0.0)))
    ns = F.coalesce(F.col("ns"), F.lit(0)).cast("double")
    x = F.coalesce(F.col("x_st"), F.lit(0))
    ex = ns * nt / F.when(t_pairs != 0, t_pairs)
    return out.select(
        "aoi", "n_points", t_pairs.cast("long").alias("t_pairs"),
        ns.cast("long").alias("ns"),
        nt.cast("long").alias("nt"),
        x.alias("x_st"),
        (F.round(ex, 6) + 0.0).alias("expected_x"),
        (F.round(x / F.when(ex != 0, ex), 6) + 0.0).alias("knox_ratio"))


def knox_test_sql(points_sql: str,
                  key_cols: Tuple[str, ...] = ("aoi",),
                  x_col: str = "x", y_col: str = "y", t_col: str = "td",
                  ds: float = 60.0, dt: float = 10.0) -> str:
    """DuckDB oracle: BRUTE-FORCE all-pairs per key (independent of the
    histogram + bucket decomposition), identical lexicographic dedup
    and guards."""
    keys = ", ".join(key_cols)
    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    akeys = ", ".join(f"a.{k} AS {k}" for k in key_cols)
    agg_keys = ", ".join(f"a.{k}" for k in key_cols)
    return f"""
WITH kxsrc AS ({points_sql}),
kxb AS (
  SELECT {keys}, CAST({x_col} AS DOUBLE) AS x,
         CAST({y_col} AS DOUBLE) AS y, CAST({t_col} AS DOUBLE) AS td
  FROM kxsrc
),
kxn AS (SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_points
        FROM kxb GROUP BY {keys}),
kxp AS (
  SELECT {akeys},
         CASE WHEN (b.x - a.x) * (b.x - a.x)
                   + (b.y - a.y) * (b.y - a.y) <= {ds * ds!r}
              THEN 1 ELSE 0 END AS is_s,
         CASE WHEN ABS(b.td - a.td) <= {dt!r} THEN 1 ELSE 0 END AS is_t
  FROM kxb a JOIN kxb b ON {on}
   AND (a.x < b.x OR (a.x = b.x AND a.y < b.y)
        OR (a.x = b.x AND a.y = b.y AND a.td < b.td))
),
kxa AS (
  SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS t_pairs,
         CAST(SUM(is_s) AS BIGINT) AS ns,
         CAST(SUM(is_t) AS BIGINT) AS nt,
         CAST(SUM(is_s * is_t) AS BIGINT) AS x_st
  FROM kxp GROUP BY {keys}
)
SELECT n.{key_cols[0]}{"".join(f", n.{k}" for k in key_cols[1:])}, n.n_points,
       COALESCE(a.t_pairs, 0) AS t_pairs,
       COALESCE(a.ns, 0) AS ns,
       COALESCE(a.nt, 0) AS nt,
       COALESCE(a.x_st, 0) AS x_st,
       ROUND(COALESCE(a.ns, 0) * COALESCE(a.nt, 0)
             / NULLIF(CAST(n.n_points AS DOUBLE) * (n.n_points - 1)
                      / 2.0, 0), 6) + 0.0 AS expected_x,
       ROUND(COALESCE(a.x_st, 0)
             / NULLIF(COALESCE(a.ns, 0) * COALESCE(a.nt, 0)
                      / NULLIF(CAST(n.n_points AS DOUBLE)
                               * (n.n_points - 1) / 2.0, 0), 0), 6)
         + 0.0 AS knox_ratio
FROM kxn n LEFT JOIN kxa a ON {" AND ".join(f"n.{k} = a.{k}" for k in key_cols)}
"""


_NEIGH4 = [(1, 0), (-1, 0), (0, 1), (0, -1)]


def region_label(cells: DataFrame,
                 connectivity: int = 4) -> DataFrame:
    """Connected-component labeling of a foreground cell raster per key
    (4-connectivity) — raster blob detection: which contiguous patches
    form one field / burn scar / bloom, as the precursor of object-based
    analysis. Input rows are the FOREGROUND cells (ix, iy [+ key]);
    every cell gets the MINIMUM cell id reachable through foreground as
    its ``label``, so labels are stable, deterministic, and
    partitioning-independent.

    Shape: min-label propagation — the Pregel fixpoint the repo already
    uses for dup components and flow accumulation, on the grid instead
    of a similarity graph: per round ONE 4-neighbor equi-join (constant
    fan-out send) + a min hash agg, converging in component-DIAMETER
    rounds (not cell count); Σlabel strictly decreases until the
    fixpoint, so a 1-row agg early-stops; every round's frame is lazily
    checkpointed to keep lineage flat. At 10¹² cells each round is one
    co-partitioned shuffle of the foreground only.
    """
    base = (cells.select("doc_id", F.col("ix").cast("long").alias("ix"),
                         F.col("iy").cast("long").alias("iy"))
            .dropDuplicates()  # many points can map to one cell
            .localCheckpoint(eager=False))
    lab = base.withColumn(
        "label", (F.col("iy") * F.lit(2 ** 32) + F.col("ix")))
    lab = lab.localCheckpoint(eager=False)
    # Σlabel can exceed int64 (labels are iy·2³² + ix); aggregate in
    # decimal(38,0) so the ANSI overflow check never trips.
    _sig = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_total = lab.agg(_sig).collect()[0][0]
    if connectivity == 4:
        neigh = _NEIGH4
    elif connectivity == 8:
        neigh = sorted(QUEEN)
    else:
        raise ValueError("region_label: connectivity must be 4 or 8")
    for _ in range(64):
        sent = _shift(lab, 1, neigh)
        best = (sent.groupBy("doc_id", "ix", "iy")
                .agg(F.min("label").alias("_nb")))
        lab = (lab.join(best, ["doc_id", "ix", "iy"], "left")
               .select("doc_id", "ix", "iy",
                       F.least(F.col("label"),
                               F.coalesce(F.col("_nb"), F.col("label")))
                       .alias("label"))
               .localCheckpoint(eager=False))
        total = lab.agg(_sig).collect()[0][0]
        if total == prev_total:
            break
        prev_total = total
    return lab.select("doc_id", "ix", "iy", "label")


def region_label_sql(cells_sql: str,
                     key_cols: Tuple[str, ...] = ("doc_id",),
                     connectivity: int = 4) -> str:
    """DuckDB oracle: recursive reachability closure through foreground
    4- (or 8-) neighbors, labeled by the min reachable cell id — an
    independent algorithm (transitive closure, not iterative
    relaxation)."""
    keys = ", ".join(key_cols)
    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    akeys = ", ".join(f"a.{k} AS {k}" for k in key_cols)
    ron = " AND ".join(f"r.{k} = e.{k}" for k in key_cols)
    if connectivity == 4:
        adj = "ABS(a.ix - b.ix) + ABS(a.iy - b.iy) = 1"
    elif connectivity == 8:
        adj = ("GREATEST(ABS(a.ix - b.ix), ABS(a.iy - b.iy)) = 1")
    else:
        raise ValueError("region_label_sql: connectivity must be 4 or 8")
    return f"""
WITH rlsrc AS ({cells_sql}),
rlb AS (
  SELECT {keys}, CAST(ix AS BIGINT) AS ix, CAST(iy AS BIGINT) AS iy
  FROM rlsrc
),
rledge AS (
  SELECT {akeys}, a.ix AS ix, a.iy AS iy, b.ix AS tix, b.iy AS tiy
  FROM rlb a JOIN rlb b ON {on}
   AND {adj}
),
rlreach AS (
  WITH RECURSIVE r({keys}, ix, iy, rix, riy) AS (
    SELECT {keys}, ix, iy, ix, iy FROM rlb
    UNION
    SELECT r.{key_cols[0]}{"".join(f", r.{k}" for k in key_cols[1:])},
           r.ix, r.iy, e.tix, e.tiy
    FROM r JOIN rledge e
      ON {ron} AND r.rix = e.ix AND r.riy = e.iy
  )
  SELECT * FROM r
)
SELECT {keys}, ix, iy,
       MIN(riy * 4294967296 + rix) AS label
FROM rlreach GROUP BY {keys}, ix, iy
"""


def variogram_directional(dem: DataFrame) -> DataFrame:
    """Directional (anisotropic) semivariogram — the geostatistics
    anisotropy probe (does spatial continuity stretch along a ridge /
    wind / flow direction?): the :func:`variogram` reduction split by
    offset orientation class (EW, NS, and the two diagonals), one row
    per (direction, lag class). Same machinery: constant half-plane
    offset explode, ONE co-partitioned grid equi-join, hash agg at
    direction × lag cardinality.
    """
    offs = _variogram_offsets(8)

    def _dir(dx, dy):
        if dy == 0:
            return "EW"
        if dx == 0:
            return "NS"
        return "NE" if dx * dy > 0 else "NW"

    base = _dem_grid(dem)
    contrib = _shift(base.select("ix", "iy", F.col("v").alias("vs")), -1,
                     [(dx, dy, dx * dx + dy * dy, _dir(dx, dy))
                      for dx, dy in offs], ("d2", "direction"))
    j = contrib.join(base, ["ix", "iy"])
    dd = F.col("v") - F.col("vs")
    return (j.groupBy("direction", "d2")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.round(F.sum(dd * dd) / (2.0 * F.count("*")), 6)
                 .alias("gamma"))
            .select("direction",
                    F.col("d2").cast("int").alias("d2"),
                    F.round(F.sqrt(F.col("d2").cast("double")), 6)
                    .alias("lag"),
                    "n_pairs", "gamma"))


def variogram_directional_sql(dem_path: str, max_d2: int = 8,
                              value_col: str = "elevation") -> str:
    """DuckDB oracle: identical decode, tagged offset table, join, and
    per-(direction, lag) reduction."""
    offs = _variogram_offsets(max_d2)

    def _dir(dx, dy):
        if dy == 0:
            return "EW"
        if dx == 0:
            return "NS"
        return "NE" if dx * dy > 0 else "NW"

    rows = ", ".join(
        f"({dx}, {dy}, {dx * dx + dy * dy}, '{_dir(dx, dy)}')"
        for dx, dy in offs)
    return f"""
WITH vdb AS (
  SELECT CAST(cell % 4294967296 AS BIGINT) AS ix,
         CAST(FLOOR(cell / 4294967296.0) AS BIGINT) AS iy,
         CAST({value_col} AS DOUBLE) AS v
  FROM read_parquet('{dem_path}')
),
vdo (dx, dy, d2, direction) AS (VALUES {rows}),
vdc AS (
  SELECT ix - dx AS ix, iy - dy AS iy, v AS vs, d2, direction
  FROM vdb, vdo
),
vdj AS (
  SELECT c.direction, c.d2, b.v, c.vs
  FROM vdc c JOIN vdb b ON c.ix = b.ix AND c.iy = b.iy
)
SELECT direction, CAST(d2 AS INT) AS d2,
       ROUND(SQRT(CAST(d2 AS DOUBLE)), 6) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(SUM((v - vs) * (v - vs)) / (2.0 * COUNT(*)), 6) AS gamma
FROM vdj GROUP BY direction, d2
"""


def percentile_stretch(px: DataFrame) -> DataFrame:
    """Percentile normalization (histogram equalization) of a band per
    scene — the contrast stretch that makes values comparable across
    scenes with different illumination/sensor gain before thresholding
    or ML: each pixel's value maps to its per-key percent rank
    ∈ [0, 1] (ties share a rank, exactly Spark's/DuckDB's
    ``percent_rank`` definition), plus the per-key min-max stretch as a
    second normalized column.

    Shape: ONE key window (percent_rank and both extremes share the
    partitioning; min/max come from a key agg broadcast back to avoid
    an unbounded-frame re-sort), one exchange at pixel cardinality.
    """
    from pyspark.sql import Window as _W
    # NULLS LAST to match DuckDB's default window ordering (Spark's
    # ascending default is nulls-first; nodata pixels would shift every
    # non-null rank by the null count otherwise).
    w = _W.partitionBy("doc_id").orderBy(
        F.col("v").asc_nulls_last())
    ext = px.groupBy("doc_id").agg(
        F.min("v").alias("_lo"), F.max("v").alias("_hi"))
    j = px.join(F.broadcast(ext), on=["doc_id"])
    rng = F.col("_hi") - F.col("_lo")
    return j.select(
        "doc_id", "x", "y", F.round(F.col("v"), 6).alias("v"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        (F.round((F.col("v") - F.col("_lo"))
                 / F.when(rng != 0, rng), 6) + 0.0).alias("stretched"))


def percentile_stretch_sql(pixels_sql: str,
                           key_cols: Tuple[str, ...] = ("doc_id",),
                           value_col: str = "v") -> str:
    """DuckDB oracle: identical window rank and min-max stretch."""
    keys = ", ".join(key_cols)
    return f"""
WITH pssrc AS ({pixels_sql}),
pse AS (
  SELECT {keys}, MIN({value_col}) AS lo, MAX({value_col}) AS hi
  FROM pssrc GROUP BY {keys}
)
SELECT {keys}, x, y,
       ROUND({value_col}, 6) AS v,
       ROUND(PERCENT_RANK() OVER (PARTITION BY {keys}
                                  ORDER BY {value_col}), 6) AS pct_rank,
       ROUND(({value_col} - lo) / NULLIF(hi - lo, 0), 6) + 0.0
         AS stretched
FROM pssrc JOIN pse USING ({keys})
"""


def idw_grid(points: DataFrame, stations: DataFrame, radius: float,
             cell_m: float = CELL_SIZE_M,
             value_col: str = "v") -> DataFrame:
    """Inverse-distance-weighted interpolation: predict a station-borne
    field (elevation, temperature, rain) at arbitrary points from the
    stations within ``radius`` — the gridding step behind every
    "surface from sparse sensors" product. Weight ``1/d²`` with a
    1e-12 floor on d² so a point sitting exactly on a station takes
    (numerically) that station's value.

    Shape: :func:`distance_join` candidates (station disc → constant
    bbox-cell replication, broadcast; points touch ONE codegen cell id
    + broadcast hash join, zero point-cardinality shuffles) → one hash
    agg per point. Points with no station in range are dropped (emit
    ``n_stations`` so the caller can distinguish sparse coverage).
    At 10¹² points this is one map-side-combinable agg; nothing
    quadratic, no global sort.
    """
    pairs = (distance_join(points, stations, radius=radius,
                           cell_m=cell_m)
             .join(F.broadcast(stations.select(
                 "station_id", F.col(value_col).alias("_sv"))),
                 "station_id"))
    d2 = ((F.col("x") - F.col("sx")) ** 2
          + (F.col("y") - F.col("sy")) ** 2)
    w = F.lit(1.0) / F.greatest(d2, F.lit(1e-12))
    keys = [c for c in points.columns if c not in ("x", "y")]
    return (pairs
            .groupBy(*keys, "x", "y")
            .agg((F.round(F.sum(w * F.col("_sv")) / F.sum(w), 6) + 0.0)
                 .alias("idw"),
                 F.count("*").cast("long").alias("n_stations")))


def idw_grid_sql(points_sql: str, stations_sql: str, radius: float,
                 power: float = 2.0, value_col: str = "v",
                 key_cols: Tuple[str, ...] = ("doc_id",)) -> str:
    """DuckDB oracle: brute-force cross join with the identical weight
    formula — an INDEPENDENT candidate algorithm, so bbox-cell
    replication provably neither misses nor duplicates a pair."""
    keys = ", ".join(key_cols)
    return f"""
WITH iwp AS ({points_sql}),
iws AS ({stations_sql}),
iwj AS (
  SELECT p.*, s.{value_col} AS sv,
         (p.x - s.sx) * (p.x - s.sx) + (p.y - s.sy) * (p.y - s.sy) AS d2
  FROM iwp p, iws s
  WHERE (p.x - s.sx) * (p.x - s.sx) + (p.y - s.sy) * (p.y - s.sy)
        <= {float(radius) ** 2!r}
)
SELECT {keys}, x, y,
       ROUND(SUM(sv / POWER(GREATEST(d2, 1e-12), {power / 2.0!r}))
             / SUM(1.0 / POWER(GREATEST(d2, 1e-12), {power / 2.0!r})), 6)
         + 0.0 AS idw,
       CAST(COUNT(*) AS BIGINT) AS n_stations
FROM iwj GROUP BY {keys}, x, y
"""


def _gwr_offsets(max_d2: int):
    """Full-plane offset classes (incl. self) up to squared distance
    ``max_d2`` — each neighbor contributes to each center once."""
    r = int(math.isqrt(max_d2)) + 1
    return [(dx, dy) for dx in range(-r, r + 1) for dy in range(-r, r + 1)
            if dx * dx + dy * dy <= max_d2]


def local_regression(cells: DataFrame, x_col: str, y_col: str,
                     max_d2: int = 8) -> DataFrame:
    """Geographically weighted regression (GWR-lite): at every cell, a
    kernel-weighted ordinary-least-squares fit of ``y_col`` on
    ``x_col`` over the neighborhood within squared offset ``max_d2`` —
    the spatially-varying-coefficient map ("where does NDVI respond to
    elevation, and how strongly?") that a single global regression
    averages away. Gaussian kernel ``w = exp(-d²/(2·bw²))`` with
    bandwidth bw = 2 cells; weights are per-offset-class constants, so
    they are embedded as literals and bit-identical across engines.

    Shape: the :func:`variogram` machinery pointed at regression — a
    constant |offsets|× sender explode, ONE co-partitioned grid
    equi-join, and a hash agg per center cell accumulating the five
    weighted moments (Σw, Σwx, Σwy, Σwx², Σwxy); slope/intercept are
    closed-form from those. At 10¹² cells: |offsets|·cells rows through
    one local join, agg at cell cardinality, nothing quadratic.
    Degenerate neighborhoods (constant predictor) yield NULL slope.
    """
    offs = _gwr_offsets(max_d2)
    base = cells.select(
        F.col("ix").cast("long").alias("ix"),
        F.col("iy").cast("long").alias("iy"),
        F.col(x_col).cast("double").alias("xv"),
        F.col(y_col).cast("double").alias("yv"))
    # sender (ix,iy) contributes its (xv,yv) to center (ix-dx, iy-dy)
    contrib = _shift(base, -1,
                     [(dx, dy, math.exp(-(dx * dx + dy * dy)
                                        / (2.0 * 2.0 * 2.0)))  # 2·bw²
                      for dx, dy in offs], ("w",))
    centers = base.select("ix", "iy")
    j = contrib.join(centers, ["ix", "iy"])
    w, xv, yv = F.col("w"), F.col("xv"), F.col("yv")
    agg = (j.groupBy("ix", "iy")
           .agg(F.sum(w).alias("sw"),
                F.sum(w * xv).alias("swx"),
                F.sum(w * yv).alias("swy"),
                F.sum(w * xv * xv).alias("swxx"),
                F.sum(w * xv * yv).alias("swxy"),
                F.count("*").cast("long").alias("n_neigh")))
    den = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
    num = F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy")
    slope = F.when(F.abs(den) > 1e-12, num / den)
    return agg.select(
        "ix", "iy", "n_neigh",
        (F.round(slope, 6) + 0.0).alias("slope"),
        (F.round((F.col("swy") - slope * F.col("swx")) / F.col("sw"), 6)
         + 0.0).alias("intercept"))


def local_regression_sql(cells_sql: str, x_col: str, y_col: str,
                         max_d2: int = 8,
                         bandwidth: float = 2.0) -> str:
    """DuckDB oracle: identical offset/weight table, join, moment
    folds, and closed-form read-off."""
    offs = _gwr_offsets(max_d2)
    rows = ", ".join(
        f"({dx}, {dy}, "
        f"{math.exp(-(dx * dx + dy * dy) / (2.0 * bandwidth * bandwidth))!r})"
        for dx, dy in offs)
    return f"""
WITH gwb AS (
  SELECT CAST(ix AS BIGINT) AS ix, CAST(iy AS BIGINT) AS iy,
         CAST({x_col} AS DOUBLE) AS xv, CAST({y_col} AS DOUBLE) AS yv
  FROM ({cells_sql})
),
gwo (dx, dy, w) AS (VALUES {rows}),
gwc AS (
  SELECT ix - dx AS ix, iy - dy AS iy, xv, yv, w FROM gwb, gwo
),
gwj AS (
  SELECT c.ix, c.iy, c.xv, c.yv, c.w
  FROM gwc c JOIN (SELECT ix, iy FROM gwb) b ON c.ix = b.ix AND c.iy = b.iy
),
gwa AS (
  SELECT ix, iy, SUM(w) AS sw, SUM(w * xv) AS swx, SUM(w * yv) AS swy,
         SUM(w * xv * xv) AS swxx, SUM(w * xv * yv) AS swxy,
         CAST(COUNT(*) AS BIGINT) AS n_neigh
  FROM gwj GROUP BY ix, iy
)
SELECT ix, iy, n_neigh,
       ROUND(CASE WHEN ABS(sw * swxx - swx * swx) > 1e-12
             THEN (sw * swxy - swx * swy) / (sw * swxx - swx * swx)
             END, 6) + 0.0 AS slope,
       ROUND((swy - (CASE WHEN ABS(sw * swxx - swx * swx) > 1e-12
                     THEN (sw * swxy - swx * swy) / (sw * swxx - swx * swx)
                     END) * swx) / sw, 6) + 0.0 AS intercept
FROM gwa
"""


def geary_c(px: DataFrame) -> DataFrame:
    """Global Geary's C under queen contiguity — Moran's I's
    pair-difference twin, more sensitive to LOCAL structure:
    ``C = ((n−1)·Σᵢⱼ wᵢⱼ(xᵢ−xⱼ)²) / (2W·Σᵢ(xᵢ−μ)²)`` over ordered
    neighbor pairs; C < 1 clustered, C > 1 dispersed, E[C] = 1.

    Shape: one 1-row mean agg broadcast back, a constant 8× queen-offset
    explode on the sender side + ONE co-partitioned grid equi-join (no
    self-cross), then two tiny reductions (pair sum, cell sum) crossed
    at one row each. At 10¹² cells: 8n rows through one local join,
    nothing quadratic, no window. Squared differences are written as
    products (never ``pow``) so both engines round the identical double.
    """
    mu = px.agg(F.avg(F.col("elevation").cast("double")).alias("_mu"))
    base = (px.crossJoin(F.broadcast(mu))
            .select(F.col("doc_id").alias("d"),
                    F.floor(F.col("x") / F.col("gsd")).cast("long")
                    .alias("ix"),
                    F.floor(F.col("y") / F.col("gsd")).cast("long")
                    .alias("iy"),
                    (F.col("elevation").cast("double") - F.col("_mu"))
                    .alias("z")))
    contrib = _shift(base.select("d", "ix", "iy", F.col("z").alias("zs")),
                     -1, sorted(QUEEN))
    dz = F.col("z") - F.col("zs")
    pairs = (contrib.join(base, ["d", "ix", "iy"])
             .agg(F.count("*").cast("long").alias("w_links"),
                  F.sum(dz * dz).alias("_s")))
    cells = base.agg(F.count("*").alias("_n"),
                     F.sum(F.col("z") * F.col("z")).alias("_ssq"))
    return (cells.crossJoin(pairs)
            .select(F.col("_n").cast("long").alias("n_cells"), "w_links",
                    (F.round(((F.col("_n") - 1) * F.col("_s"))
                             / (2.0 * F.col("w_links") * F.col("_ssq")), 6)
                     + 0.0).alias("geary_c"),
                    F.lit(1.0).alias("e_c")))


def geary_c_sql(cells_sql: str, value_sql: str = "elevation") -> str:
    """DuckDB oracle: identical mean-deviation, VALUES offset table, the
    same grid equi-join and two-reduction readout. ``cells_sql`` must
    yield (doc_id, ix, iy) plus the value expression's inputs."""
    rows = ", ".join(f"({dx}, {dy})" for dx, dy in sorted(QUEEN))
    return f"""
WITH gcb AS (
  SELECT doc_id AS d, ix, iy,
         CAST({value_sql} AS DOUBLE)
         - AVG(CAST({value_sql} AS DOUBLE)) OVER () AS z
  FROM ({cells_sql})
),
gco (dx, dy) AS (VALUES {rows}),
gcp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS w_links,
         SUM((b.z - c.zs) * (b.z - c.zs)) AS s
  FROM (SELECT d, ix - dx AS ix, iy - dy AS iy, z AS zs
        FROM gcb, gco) c
  JOIN gcb b ON c.d = b.d AND c.ix = b.ix AND c.iy = b.iy
),
gcc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells, SUM(z * z) AS ssq FROM gcb
)
SELECT n_cells, w_links,
       ROUND(((n_cells - 1) * s) / (2.0 * w_links * ssq), 6) + 0.0
         AS geary_c,
       1.0 AS e_c
FROM gcc, gcp
"""


def join_counts(cells: DataFrame, bool_col: str) -> DataFrame:
    """Join-count statistics of a binary raster under queen contiguity —
    the categorical autocorrelation test (is the TRUE class spatially
    clumped?): observed ordered neighbor-pair counts BB / WW / BW per
    key, against the free-sampling expectations ``W·p²``, ``W·(1−p)²``,
    ``W·2p(1−p)`` with ``p`` the TRUE-cell fraction. BB ≫ E[BB] means
    the mask clumps; all counts are over ordered (directed) links so W
    matches :func:`morans_i`'s ``w_links`` accounting.

    Shape: constant 8× queen explode + ONE co-partitioned grid
    equi-join, one key-cardinality pair agg, one key-cardinality cell
    agg, broadcast-joined for the readout. Nothing quadratic; at 10¹²
    cells the pair join is 8n rows through one shuffle.
    """
    keys = ["doc_id"]
    base = cells.select(
        *keys, F.col("ix").cast("long").alias("ix"),
        F.col("iy").cast("long").alias("iy"),
        F.col(bool_col).cast("boolean").cast("int").alias("b"))
    contrib = _shift(base.select(*keys, "ix", "iy", F.col("b").alias("bs")),
                     -1, sorted(QUEEN))
    pairs = (contrib.join(base, keys + ["ix", "iy"])
             .groupBy(*keys)
             .agg(F.count("*").cast("long").alias("w_links"),
                  F.sum(F.col("b") * F.col("bs")).cast("long").alias("bb"),
                  F.sum((1 - F.col("b")) * (1 - F.col("bs"))).cast("long")
                  .alias("ww")))
    frac = (base.groupBy(*keys)
            .agg(F.count("*").cast("long").alias("n_cells"),
                 (F.sum("b") / F.count("*")).alias("_p")))
    p = F.col("_p")
    # left join from the cell side so a key with NO realized links (an
    # isolated raster) still reports zeros instead of vanishing
    joined = (frac.join(pairs, keys, "left")
              .withColumn("w_links", F.coalesce("w_links", F.lit(0)))
              .withColumn("bb", F.coalesce("bb", F.lit(0)))
              .withColumn("ww", F.coalesce("ww", F.lit(0))))
    return (joined
            .select(*keys, "n_cells", "w_links", "bb", "ww",
                    (F.col("w_links") - F.col("bb") - F.col("ww"))
                    .alias("bw"),
                    (F.round(F.col("w_links") * p * p, 6) + 0.0)
                    .alias("e_bb"),
                    (F.round(F.col("w_links") * (1 - p) * (1 - p), 6)
                     + 0.0).alias("e_ww"),
                    (F.round(F.col("w_links") * 2 * p * (1 - p), 6) + 0.0)
                    .alias("e_bw"))
            .orderBy(*keys))


def join_counts_sql(cells_sql: str, bool_sql: str,
                    key_cols: Tuple[str, ...] = ("doc_id",)) -> str:
    """DuckDB oracle: identical offset table, join, and expectation
    formulas. ``cells_sql`` must yield the keys, ix, iy, and the boolean
    expression's inputs."""
    keys = ", ".join(key_cols)
    on = " AND ".join(f"c.{k} = b.{k}" for k in key_cols)
    rows = ", ".join(f"({dx}, {dy})" for dx, dy in sorted(QUEEN))
    return f"""
WITH jcb AS (
  SELECT {keys}, CAST(ix AS BIGINT) AS ix, CAST(iy AS BIGINT) AS iy,
         CAST(CAST(({bool_sql}) AS BOOLEAN) AS INT) AS b
  FROM ({cells_sql})
),
jco (dx, dy) AS (VALUES {rows}),
jcp AS (
  SELECT {', '.join('b.' + k for k in key_cols)},
         CAST(COUNT(*) AS BIGINT) AS w_links,
         CAST(SUM(b.b * c.bs) AS BIGINT) AS bb,
         CAST(SUM((1 - b.b) * (1 - c.bs)) AS BIGINT) AS ww
  FROM (SELECT {keys}, ix - dx AS ix, iy - dy AS iy, b AS bs
        FROM jcb, jco) c
  JOIN jcb b ON {on} AND c.ix = b.ix AND c.iy = b.iy
  GROUP BY {', '.join('b.' + k for k in key_cols)}
),
jcf AS (
  SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_cells,
         SUM(b) / COUNT(*) AS p
  FROM jcb GROUP BY {keys}
)
SELECT {', '.join('f.' + k for k in key_cols)}, f.n_cells,
       COALESCE(p.w_links, 0) AS w_links,
       COALESCE(p.bb, 0) AS bb, COALESCE(p.ww, 0) AS ww,
       COALESCE(p.w_links, 0) - COALESCE(p.bb, 0) - COALESCE(p.ww, 0)
         AS bw,
       ROUND(COALESCE(p.w_links, 0) * f.p * f.p, 6) + 0.0 AS e_bb,
       ROUND(COALESCE(p.w_links, 0) * (1 - f.p) * (1 - f.p), 6) + 0.0
         AS e_ww,
       ROUND(COALESCE(p.w_links, 0) * 2 * f.p * (1 - f.p), 6) + 0.0
         AS e_bw
FROM jcf f LEFT JOIN jcp p USING ({keys})
"""


def grid_dbscan(cells: DataFrame,
                min_pts: int = 4) -> DataFrame:
    """Deterministic grid DBSCAN per key — density-based clustering of a
    foreground cell mask (eps = one queen step): a cell whose closed
    queen neighborhood holds ≥ ``min_pts`` foreground cells is a CORE;
    clusters are connected components of cores (8-connectivity, labeled
    by the min reachable core id, so labels are stable and
    partitioning-independent); a non-core cell adjacent to a core is a
    BORDER assigned the minimum adjacent core label (the deterministic
    stand-in for scan-order assignment); everything else is NOISE with a
    NULL label. Unlike plain connected components this separates dense
    blobs from one-cell filaments bridging them.

    Shape: ONE queen explode + co-partitioned grid join for the density
    count, the :func:`region_label` Pregel fixpoint over CORES ONLY
    (diameter-bounded rounds, one shuffle each), and one more
    constant-fanout join to attach borders. At 10¹² cells nothing is
    quadratic and every join is on the co-partitioned (key, ix, iy) grid
    key.
    """
    keys = ["doc_id"]
    base = (cells.select(*keys,
                         F.col("ix").cast("long").alias("ix"),
                         F.col("iy").cast("long").alias("iy"))
            .dropDuplicates()
            .localCheckpoint(eager=False))
    sent = _shift(base, -1, sorted(GSTAR))
    dens = (sent.join(base, keys + ["ix", "iy"])
            .groupBy(*keys, "ix", "iy")
            .agg(F.count("*").cast("int").alias("n_in_neigh"))
            .localCheckpoint(eager=False))
    cores = dens.filter(F.col("n_in_neigh") >= min_pts)
    lab = region_label(cores.select(*keys, "ix", "iy"), connectivity=8)
    core_out = (cores.join(lab, keys + ["ix", "iy"])
                .select(*keys, "ix", "iy", "n_in_neigh", "label",
                        F.lit("core").alias("role")))
    # borders: non-core foreground adjacent to >=1 core, min label wins
    noncore = dens.filter(F.col("n_in_neigh") < min_pts)
    csent = _shift(lab.select(*keys, "ix", "iy", "label"), 1, sorted(QUEEN))
    bl = (csent.groupBy(*keys, "ix", "iy")
          .agg(F.min("label").alias("_bl")))
    rest = (noncore.join(bl, keys + ["ix", "iy"], "left")
            .select(*keys, "ix", "iy", "n_in_neigh",
                    F.col("_bl").alias("label"),
                    F.when(F.col("_bl").isNotNull(), F.lit("border"))
                    .otherwise(F.lit("noise")).alias("role")))
    return core_out.unionByName(rest)


def grid_dbscan_sql(cells_sql: str,
                    key_cols: Tuple[str, ...] = ("doc_id",),
                    min_pts: int = 4) -> str:
    """DuckDB oracle: identical density count (VALUES offsets), the
    recursive-closure :func:`region_label_sql` over cores (independent
    labeling algorithm), and the same min-adjacent-label border rule."""
    keys = ", ".join(key_cols)
    on = " AND ".join(f"s.{k} = b.{k}" for k in key_cols)
    rows = ", ".join(f"({dx}, {dy})"
                     for dx, dy in sorted(QUEEN) + [(0, 0)])
    rows8 = ", ".join(f"({dx}, {dy})" for dx, dy in sorted(QUEEN))
    core_cells = f"SELECT {keys}, ix, iy FROM dbd WHERE n_in_neigh >= {min_pts}"
    lab_sub = region_label_sql(core_cells, key_cols=key_cols,
                               connectivity=8)
    return f"""
WITH dbb AS (
  SELECT DISTINCT {keys}, CAST(ix AS BIGINT) AS ix, CAST(iy AS BIGINT) AS iy
  FROM ({cells_sql})
),
dbo (dx, dy) AS (VALUES {rows}),
dbd AS (
  SELECT {', '.join('b.' + k for k in key_cols)}, b.ix, b.iy,
         CAST(COUNT(*) AS INT) AS n_in_neigh
  FROM (SELECT {keys}, ix - dx AS ix, iy - dy AS iy FROM dbb, dbo) s
  JOIN dbb b ON {on} AND s.ix = b.ix AND s.iy = b.iy
  GROUP BY {', '.join('b.' + k for k in key_cols)}, b.ix, b.iy
),
dblab AS ({lab_sub}),
dbcore AS (
  SELECT d.*, l.label, 'core' AS role
  FROM dbd d JOIN dblab l
    ON {' AND '.join(f'd.{k} = l.{k}' for k in key_cols)}
   AND d.ix = l.ix AND d.iy = l.iy
  WHERE d.n_in_neigh >= {min_pts}
),
dbo8 (dx, dy) AS (VALUES {rows8}),
dbbl AS (
  SELECT {keys}, ix + dx AS ix, iy + dy AS iy, MIN(label) AS bl
  FROM dblab, dbo8 GROUP BY {keys}, ix + dx, iy + dy
),
dbrest AS (
  SELECT {', '.join('d.' + k for k in key_cols)}, d.ix, d.iy,
         d.n_in_neigh, l.bl AS label,
         CASE WHEN l.bl IS NOT NULL THEN 'border' ELSE 'noise' END AS role
  FROM dbd d LEFT JOIN dbbl l
    ON {' AND '.join(f'd.{k} = l.{k}' for k in key_cols)}
   AND d.ix = l.ix AND d.iy = l.iy
  WHERE d.n_in_neigh < {min_pts}
)
SELECT * FROM dbcore
UNION ALL
SELECT * FROM dbrest
"""


def shadow_project(px: DataFrame, meta: DataFrame,
                   height_m: float = 1000.0,
                   exclude_sources: bool = True) -> DataFrame:
    """Geometric cloud-shadow candidate mask — the Sen2Cor-style step
    after cloud classification: every cloud pixel casts a shadow
    ``h·tan(sun_zenith)`` metres along the anti-solar azimuth; pixels
    whose grid cell receives ≥1 projection (and are not themselves
    cloud) are shadow CANDIDATES, with ``n_sources`` counting how many
    cloud pixels project there (deeper stacks → higher confidence).
    ``exclude_sources=False`` keeps cloud pixels as receivers too —
    useful when the mask itself is under audit or clouds self-overlap.
    Azimuth is clockwise-from-north, +y north, so the displacement is
    ``(+sin(az+π), +cos(az+π))·h·tan(zen)``. Per-doc displacements are
    rounded to 1e-6 m before the grid snap so both engines floor the
    identical double (trig libms differ in the last ulp).

    Shape: the per-doc (dx, dy) ride a broadcast meta join; cloud cells
    shift in pure codegen arithmetic (map-only), collapse to DISTINCT
    shadow cells with a cloud-cell-cardinality agg, and attach to
    pixels via ONE equi-join on the co-partitioned (doc, cell) key —
    no geometry library, nothing quadratic, no window.
    """
    m = F.broadcast(meta.select(
        "doc_id", F.col("target_gsd").alias("_gsd"),
        F.round(F.lit(float(height_m))
                * F.tan(F.radians(F.col("sun_zenith")))
                * F.sin(F.radians(F.col("sun_azimuth") + 180.0)), 6)
        .alias("_dx"),
        F.round(F.lit(float(height_m))
                * F.tan(F.radians(F.col("sun_zenith")))
                * F.cos(F.radians(F.col("sun_azimuth") + 180.0)), 6)
        .alias("_dy")))
    j = px.join(m, "doc_id")
    is_cloud = F.col("SCL").isin(8, 9)
    shadows = (j.filter(is_cloud)
               .groupBy("doc_id",
                        F.floor((F.col("x") + F.col("_dx")) / F.col("_gsd"))
                        .cast("long").alias("ix"),
                        F.floor((F.col("y") + F.col("_dy")) / F.col("_gsd"))
                        .cast("long").alias("iy"))
               .agg(F.count("*").cast("long").alias("n_sources")))
    recv = j.filter(~is_cloud) if exclude_sources else j
    cand = recv.select("doc_id", "x", "y",
                       F.floor(F.col("x") / F.col("_gsd")).cast("long")
                       .alias("ix"),
                       F.floor(F.col("y") / F.col("_gsd")).cast("long")
                       .alias("iy"),
                       F.col("SCL").cast("int").alias("scl"))
    return (cand.join(shadows, ["doc_id", "ix", "iy"])
            .select("doc_id", "x", "y", "scl", "n_sources"))


def shadow_project_sql(pixels_sql: str, scenes_sql: str,
                       cloud_classes: Tuple[int, ...] = (8, 9),
                       height_m: float = 1000.0,
                       scl_col: str = "SCL",
                       exclude_sources: bool = True) -> str:
    """DuckDB oracle: identical displacement (rounded before the grid
    snap), DISTINCT shadow cells, same (doc, cell) equi-join."""
    cls = ", ".join(str(int(c)) for c in cloud_classes)
    recv = (f"WHERE {scl_col} NOT IN ({cls})" if exclude_sources
            else "")
    return f"""
WITH spm AS (
  SELECT doc_id, target_gsd AS gsd,
         ROUND({float(height_m)!r} * tan(radians(sun_zenith))
               * sin(radians(sun_azimuth + 180.0)), 6) AS dx,
         ROUND({float(height_m)!r} * tan(radians(sun_zenith))
               * cos(radians(sun_azimuth + 180.0)), 6) AS dy
  FROM ({scenes_sql})
),
spj AS (
  SELECT p.*, m.gsd, m.dx, m.dy FROM ({pixels_sql}) p
  JOIN spm m USING (doc_id)
),
sps AS (
  SELECT doc_id, CAST(FLOOR((x + dx) / gsd) AS BIGINT) AS ix,
         CAST(FLOOR((y + dy) / gsd) AS BIGINT) AS iy,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM spj WHERE {scl_col} IN ({cls})
  GROUP BY 1, 2, 3
)
SELECT c.doc_id, c.x, c.y, CAST(c.{scl_col} AS INT) AS scl, s.n_sources
FROM (SELECT *, CAST(FLOOR(x / gsd) AS BIGINT) AS ix,
             CAST(FLOOR(y / gsd) AS BIGINT) AS iy
      FROM spj {recv}) c
JOIN sps s ON c.doc_id = s.doc_id AND c.ix = s.ix AND c.iy = s.iy
"""


# sqrt(3) kin, precomputed once and embedded as literals in BOTH engines
_SQRT3 = math.sqrt(3.0)
_HEX_QX = _SQRT3 / 3.0   # q = (QX·x + QY·y) / size
_HEX_QY = -1.0 / 3.0
_HEX_RY = 2.0 / 3.0      # r = (RY·y) / size


def hexbin(px: DataFrame, value_col: str, size_m: float = 40.0) -> DataFrame:
    """Hexagonal binning (pointy-top axial grid, circumradius
    ``size_m``) — the density/aggregation grid that avoids the
    square-cell orientation bias: planar (x, y) → fractional axial
    (q, r) → CUBE ROUNDING to the containing hex (round each cube
    coordinate, then repair the one with the largest rounding error so
    q + s + r = 0 stays exact — the standard algorithm, stated inline
    rather than library-dependent). Emits per-hex counts, the mean
    value, and the hex center back-projection.

    Shape: the q/r/rounding chain is pure codegen arithmetic (map-only)
    feeding ONE map-side-combinable hash agg at hex cardinality — a
    single shuffle at 10¹² points. √3-derived constants are Python
    literals embedded identically in engine and oracle.
    """
    keys = ["doc_id"]
    s = float(size_m)
    qf = (F.lit(_HEX_QX) * F.col("x")
          + F.lit(_HEX_QY) * F.col("y")) / F.lit(s)
    rf = (F.lit(_HEX_RY) * F.col("y")) / F.lit(s)
    xf, zf = qf, rf
    yf = -qf - rf
    rx, ry, rz = F.round(xf, 0), F.round(yf, 0), F.round(zf, 0)
    dx, dy, dz = F.abs(rx - xf), F.abs(ry - yf), F.abs(rz - zf)
    hq = F.when((dx > dy) & (dx > dz), -ry - rz).otherwise(rx)
    hr = F.when(~((dx > dy) & (dx > dz)) & (dz > dy), -rx - ry) \
          .otherwise(rz)
    b = px.select(*keys, hq.cast("long").alias("hq"),
                  hr.cast("long").alias("hr"),
                  F.col(value_col).cast("double").alias("_v"))
    return (b.groupBy(*keys, "hq", "hr")
            .agg(F.count("*").cast("long").alias("n_points"),
                 (F.round(F.sum("_v") / F.count("*"), 6) + 0.0)
                 .alias("mean_val"))
            .withColumn("cx", F.round(F.lit(s * _SQRT3)
                                      * (F.col("hq") + F.col("hr") / 2.0),
                                      6) + 0.0)
            .withColumn("cy", F.round(F.lit(s * 1.5) * F.col("hr"), 6)
                        + 0.0))


def hexbin_sql(src_sql: str, value_sql: str, size_m: float = 40.0,
               key_cols: Tuple[str, ...] = ("doc_id",)) -> str:
    """DuckDB oracle: identical constants, cube rounding (CASE chain
    mirrors the engine's when-otherwise exactly, including the
    repair-priority order), and readout."""
    keys = ", ".join(key_cols)
    s = float(size_m)
    return f"""
WITH hxb AS (
  SELECT {keys},
         ({_HEX_QX!r} * x + {_HEX_QY!r} * y) / {s!r} AS xf,
         ({_HEX_RY!r} * y) / {s!r} AS zf,
         CAST(({value_sql}) AS DOUBLE) AS v
  FROM ({src_sql})
),
hxr AS (
  SELECT {keys}, v, xf, zf, -xf - zf AS yf,
         ROUND(xf, 0) AS rx, ROUND(-xf - zf, 0) AS ry, ROUND(zf, 0) AS rz
  FROM hxb
),
hxc AS (
  SELECT {keys}, v,
         CASE WHEN ABS(rx - xf) > ABS(ry - yf)
               AND ABS(rx - xf) > ABS(rz - zf)
              THEN -ry - rz ELSE rx END AS hqf,
         CASE WHEN NOT (ABS(rx - xf) > ABS(ry - yf)
                        AND ABS(rx - xf) > ABS(rz - zf))
               AND ABS(rz - zf) > ABS(ry - yf)
              THEN -rx - ry ELSE rz END AS hrf
  FROM hxr
)
SELECT {keys}, CAST(hqf AS BIGINT) AS hq, CAST(hrf AS BIGINT) AS hr,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(SUM(v) / COUNT(*), 6) + 0.0 AS mean_val,
       ROUND(CAST({s * _SQRT3!r} AS DOUBLE) * (CAST(hqf AS BIGINT)
             + CAST(hrf AS BIGINT) / 2.0), 6) + 0.0 AS cx,
       ROUND(CAST({s * 1.5!r} AS DOUBLE) * CAST(hrf AS BIGINT), 6) + 0.0
         AS cy
FROM hxc GROUP BY {keys}, hqf, hrf
"""


def tpi_landform(px: DataFrame, r_large: int = 3) -> DataFrame:
    """Weiss two-scale TPI landform classification of a scalar surface
    per scene: TPI_r = z − mean of the (2r+1)² window (center
    included; a pure offset of the center-excluded form), standardized
    by the PER-KEY mean/σ of each scale, then the classic 9-class sign
    grid at ±1σ (canyon … mountain_top; the slope-split of the central
    class is skipped — documented simplification). ``px`` is the long
    pixel frame (key, x, y, gsd, value).

    Shape: TWO focal_stats passes (each = constant-fanout explode +
    ONE hash agg — no self-join, see focal_stats), one co-partitioned
    (key, ix, iy) equi-join, one key-cardinality moment agg broadcast
    back. Partial-stencil edge cells are dropped (n == (2r+1)²) so
    border bias never enters the moments.
    """
    keys = ["doc_id"]
    base = px.select(*keys, "x", "y", "gsd",
                     F.col("v").alias("_z"))
    ns, nl = 9, (2 * r_large + 1) ** 2
    fs = (focal_stats(base, "_z", radius=1)
          .filter(F.col("n_neigh") == ns)
          .select(*keys, "ix", "iy", "_z",
                  F.col("focal_mean").alias("_ms")))
    fl = (focal_stats(base, "_z", radius=r_large)
          .filter(F.col("n_neigh") == nl)
          .select(*keys, "ix", "iy", F.col("focal_mean").alias("_ml")))
    j = (fs.join(fl, [*keys, "ix", "iy"])
         .select(*keys, "ix", "iy",
                 (F.col("_z") - F.col("_ms")).alias("_ts"),
                 (F.col("_z") - F.col("_ml")).alias("_tl")))
    mom = j.groupBy(*keys).agg(
        F.avg("_ts").alias("_mus"),
        F.stddev_pop("_ts").alias("_sds"),
        F.avg("_tl").alias("_mul"),
        F.stddev_pop("_tl").alias("_sdl"))
    z = j.join(F.broadcast(mom), keys)
    ss = F.when(F.col("_sds") > 0,
                (F.col("_ts") - F.col("_mus")) / F.col("_sds")) \
          .otherwise(F.lit(0.0))
    sl = F.when(F.col("_sdl") > 0,
                (F.col("_tl") - F.col("_mul")) / F.col("_sdl")) \
          .otherwise(F.lit(0.0))
    cls = (F.when((ss <= -1) & (sl <= -1), "canyon")
           .when((ss <= -1) & (sl < 1), "midslope_drainage")
           .when(ss <= -1, "upland_drainage")
           .when((ss < 1) & (sl <= -1), "u_valley")
           .when((ss < 1) & (sl < 1), "plain")
           .when(ss < 1, "upper_slope")
           .when(sl <= -1, "local_ridge")
           .when(sl < 1, "midslope_ridge")
           .otherwise("mountain_top"))
    return z.select(
        *keys, "ix", "iy",
        (F.round("_ts", 6) + 0.0).alias("tpi_small"),
        (F.round("_tl", 6) + 0.0).alias("tpi_large"),
        (F.round(ss, 4) + 0.0).alias("tpi_small_std"),
        (F.round(sl, 4) + 0.0).alias("tpi_large_std"),
        cls.alias("landform"))


def tpi_landform_sql(pixels_sql: str, key: str = "doc_id",
                     r_small: int = 1, r_large: int = 3) -> str:
    """DuckDB oracle: two focal_stats_sql subqueries (CTE name
    collisions avoided by subquery scoping), identical per-key
    standardization and CASE ladder. ``pixels_sql`` must yield
    (key, ix, iy, v)."""
    fs = focal_stats_sql(pixels_sql, "v", radius=r_small, doc_col=key)
    fl = focal_stats_sql(pixels_sql, "v", radius=r_large, doc_col=key)
    ns, nl = (2 * r_small + 1) ** 2, (2 * r_large + 1) ** 2
    return f"""
WITH tlv AS ({pixels_sql}),
tls AS (SELECT * FROM ({fs}) WHERE n_neigh = {ns}),
tll AS (SELECT * FROM ({fl}) WHERE n_neigh = {nl}),
tlj AS (
  SELECT v.{key}, v.ix, v.iy,
         v.v - s.focal_mean AS ts,
         v.v - l.focal_mean AS tl
  FROM tlv v
  JOIN tls s ON s.{key} = v.{key} AND s.ix = v.ix AND s.iy = v.iy
  JOIN tll l ON l.{key} = v.{key} AND l.ix = v.ix AND l.iy = v.iy
),
tlm AS (
  SELECT {key}, AVG(ts) AS mus, STDDEV_POP(ts) AS sds,
         AVG(tl) AS mul, STDDEV_POP(tl) AS sdl
  FROM tlj GROUP BY {key}
),
tlz AS (
  SELECT j.{key}, ix, iy, ts, tl,
         CASE WHEN sds > 0 THEN (ts - mus) / sds ELSE 0.0 END AS ss,
         CASE WHEN sdl > 0 THEN (tl - mul) / sdl ELSE 0.0 END AS sl
  FROM tlj j JOIN tlm m ON m.{key} = j.{key}
)
SELECT {key}, ix, iy,
       ROUND(ts, 6) + 0.0 AS tpi_small,
       ROUND(tl, 6) + 0.0 AS tpi_large,
       ROUND(ss, 4) + 0.0 AS tpi_small_std,
       ROUND(sl, 4) + 0.0 AS tpi_large_std,
       CASE WHEN ss <= -1 AND sl <= -1 THEN 'canyon'
            WHEN ss <= -1 AND sl < 1 THEN 'midslope_drainage'
            WHEN ss <= -1 THEN 'upland_drainage'
            WHEN ss < 1 AND sl <= -1 THEN 'u_valley'
            WHEN ss < 1 AND sl < 1 THEN 'plain'
            WHEN ss < 1 THEN 'upper_slope'
            WHEN sl <= -1 THEN 'local_ridge'
            WHEN sl < 1 THEN 'midslope_ridge'
            ELSE 'mountain_top' END AS landform
FROM tlz
"""


def patch_stats(labeled: DataFrame) -> DataFrame:
    """Landscape-fragmentation metrics over a labeled foreground raster
    (the output of :func:`region_label`): per key — patch count,
    largest/mean patch size, largest-patch index (LPI), total
    4-perimeter (cell edges facing background OR another patch), and
    edge density (perimeter / area). The standard patch-mosaic
    summary of a classification mask.

    Shape: one agg at patch cardinality, plus ONE co-partitioned
    4-neighbor self-equi-join on the cell key to count same-label
    adjacencies (each unordered adjacency seen twice across the four
    offsets): perimeter = 4·area − ordered_same_label_pairs. No
    cartesian, no window; everything integer-exact until the two
    final ratio readouts.
    """
    keys = ["doc_id"]
    base = labeled.select(*keys, "ix", "iy", "label")
    per_patch = (base.groupBy(*keys, "label")
                 .agg(F.count("*").cast("long").alias("_sz")))
    sizes = (per_patch.groupBy(*keys)
             .agg(F.count("*").cast("long").alias("n_patches"),
                  F.sum("_sz").cast("long").alias("total_cells"),
                  F.max("_sz").cast("long").alias("max_patch")))
    sent = _shift(base.select(*keys, "ix", "iy",
                              F.col("label").alias("_from")), 1, _NEIGH4)
    same = (sent.join(base, [*keys, "ix", "iy"])
            .filter(F.col("_from") == F.col("label"))
            .groupBy(*keys)
            .agg(F.count("*").cast("long").alias("_adj")))
    out = sizes.join(same, keys, "left").na.fill({"_adj": 0})
    perim = 4 * F.col("total_cells") - F.col("_adj")
    return out.select(
        *keys, "n_patches", "total_cells", "max_patch",
        (F.round(F.col("total_cells")
                 / F.col("n_patches").cast("double"), 6) + 0.0)
        .alias("mean_patch"),
        (F.round(F.col("max_patch")
                 / F.col("total_cells").cast("double"), 6) + 0.0)
        .alias("lpi"),
        perim.alias("perimeter"),
        (F.round(perim / F.col("total_cells").cast("double"), 6) + 0.0)
        .alias("edge_density"))


def patch_stats_sql(labeled_sql: str,
                    key_cols: Tuple[str, ...] = ("doc_id",)) -> str:
    """DuckDB oracle: same patch agg and 4-neighbor adjacency count
    over any labeled relation (typically region_label_sql as a
    subquery)."""
    keys = ", ".join(key_cols)
    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    return f"""
WITH psb AS (SELECT * FROM ({labeled_sql})),
psp AS (
  SELECT {keys}, label, CAST(COUNT(*) AS BIGINT) AS sz
  FROM psb GROUP BY {keys}, label
),
pss AS (
  SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_patches,
         CAST(SUM(sz) AS BIGINT) AS total_cells,
         CAST(MAX(sz) AS BIGINT) AS max_patch
  FROM psp GROUP BY {keys}
),
psa AS (
  SELECT {', '.join('a.' + k + ' AS ' + k for k in key_cols)},
         CAST(COUNT(*) AS BIGINT) AS adj
  FROM psb a JOIN psb b
    ON {on} AND ABS(a.ix - b.ix) + ABS(a.iy - b.iy) = 1
   AND a.label = b.label
  GROUP BY {', '.join('a.' + k for k in key_cols)}
)
SELECT s.*,
       ROUND(total_cells / CAST(n_patches AS DOUBLE), 6) + 0.0
         AS mean_patch,
       ROUND(max_patch / CAST(total_cells AS DOUBLE), 6) + 0.0 AS lpi,
       4 * total_cells - COALESCE(adj, 0) AS perimeter,
       ROUND((4 * total_cells - COALESCE(adj, 0))
             / CAST(total_cells AS DOUBLE), 6) + 0.0 AS edge_density
FROM pss s LEFT JOIN psa USING ({keys})
"""


def change_detection(px: DataFrame) -> DataFrame:
    """Per-cell first→last change detection over a scene time stack —
    the bitemporal raster-change classifier (gain / loss / stable by
    0.05 on Δ = last − first). ``px`` is the long pixel frame
    (key, x, y, gsd, t, v) across MANY acquisition dates.

    First/last values ride ONE hash agg as lexicographic struct
    min/max — min(struct(t, v)) is the earliest observation with a
    deterministic value tie-break (two scenes sharing a timestamp
    resolve to the smaller/larger v), so no window, no self-join, no
    second scan. The oracle recovers the same rows independently via
    ROW_NUMBER — two formulations, one answer.

    Shape at 100 TB: a single shuffle keyed on (key, cell); partial
    map-side combine reduces each partition to one struct per cell
    before the exchange.
    """
    keys = ["aoi"]
    thr = 0.05
    ix = F.floor(F.col("x") / F.col("gsd")).cast("long")
    iy = F.floor(F.col("y") / F.col("gsd")).cast("long")
    base = px.select(*keys, ix.alias("ix"), iy.alias("iy"),
                     F.col("t").alias("_t"),
                     F.col("v").cast("double").alias("_v"))
    agg = (base.groupBy(*keys, "ix", "iy")
           .agg(F.count("*").cast("long").alias("n_obs"),
                F.min(F.struct("_t", "_v")).alias("_f"),
                F.max(F.struct("_t", "_v")).alias("_l")))
    first, last = F.col("_f._v"), F.col("_l._v")
    delta = last - first
    cls = (F.when(delta > thr, "gain")
           .when(delta < -thr, "loss")
           .otherwise("stable"))
    return agg.select(
        *keys, "ix", "iy", "n_obs",
        (F.round(first, 6) + 0.0).alias("v_first"),
        (F.round(last, 6) + 0.0).alias("v_last"),
        (F.round(delta, 6) + 0.0).alias("delta"),
        cls.alias("change"))


def change_detection_sql(pixels_sql: str,
                         key_cols: Tuple[str, ...] = ("aoi",),
                         threshold: float = 0.05) -> str:
    """DuckDB oracle: ROW_NUMBER first/last per cell ordered by
    (t, v) / (t DESC, v DESC) — the window formulation of the same
    lexicographic extremes. ``pixels_sql`` must yield
    (key, ix, iy, t, v)."""
    keys = ", ".join(key_cols)
    thr = float(threshold)
    return f"""
WITH cdb AS ({pixels_sql}),
cdr AS (
  SELECT {keys}, ix, iy, CAST(v AS DOUBLE) AS v,
         ROW_NUMBER() OVER (PARTITION BY {keys}, ix, iy
                            ORDER BY t ASC, v ASC) AS rf,
         ROW_NUMBER() OVER (PARTITION BY {keys}, ix, iy
                            ORDER BY t DESC, v DESC) AS rl,
         COUNT(*) OVER (PARTITION BY {keys}, ix, iy) AS n
  FROM cdb
)
SELECT {keys}, ix, iy, CAST(MAX(n) AS BIGINT) AS n_obs,
       ROUND(MAX(CASE WHEN rf = 1 THEN v END), 6) + 0.0 AS v_first,
       ROUND(MAX(CASE WHEN rl = 1 THEN v END), 6) + 0.0 AS v_last,
       ROUND(MAX(CASE WHEN rl = 1 THEN v END)
             - MAX(CASE WHEN rf = 1 THEN v END), 6) + 0.0 AS delta,
       CASE WHEN MAX(CASE WHEN rl = 1 THEN v END)
                 - MAX(CASE WHEN rf = 1 THEN v END) > {thr!r}
            THEN 'gain'
            WHEN MAX(CASE WHEN rl = 1 THEN v END)
                 - MAX(CASE WHEN rf = 1 THEN v END) < -{thr!r}
            THEN 'loss'
            ELSE 'stable' END AS change
FROM cdr GROUP BY {keys}, ix, iy
"""


def raster_xcorr(pxa: DataFrame, pxb: DataFrame,
                 max_offset: int = 2, min_overlap: int = 16) -> DataFrame:
    """Integer-lattice cross-correlation co-registration: slide raster
    B over raster A by every offset in [−m, m]², compute the Pearson
    correlation of the overlapping cells, and report the argmax offset
    per key — the misregistration detector (a shifted acquisition
    shows its true (dx, dy) as the correlation peak). Inputs are long
    frames (key, ix, iy, v).

    Shape: a CONSTANT (2m+1)² offset explode on A, ONE co-partitioned
    (key, cell) equi-join against B, a hash agg at key × offset
    cardinality carrying the five Pearson sums, and a ranked window
    over that tiny table (round-6 r, then offset tie-break). No
    cartesian, no window at cell cardinality.
    """
    keys = ["aoi"]
    m = int(max_offset)
    offs = [(dx, dy) for dx in range(-m, m + 1)
            for dy in range(-m, m + 1)]
    a = _shift(pxa.select(*keys, "ix", "iy",
                          F.col("v").cast("double").alias("_a")),
               1, [(dx, dy, dx, dy) for dx, dy in offs], ("dx", "dy"))
    b = pxb.select(*keys, "ix", "iy",
                   F.col("v").cast("double").alias("_b"))
    j = a.join(b, [*keys, "ix", "iy"])
    agg = (j.groupBy(*keys, "dx", "dy")
           .agg(F.count("*").cast("long").alias("n_overlap"),
                F.sum("_a").alias("_sa"), F.sum("_b").alias("_sb"),
                F.sum(F.col("_a") * F.col("_b")).alias("_sab"),
                F.sum(F.col("_a") * F.col("_a")).alias("_saa"),
                F.sum(F.col("_b") * F.col("_b")).alias("_sbb"))
           .filter(F.col("n_overlap") >= int(min_overlap)))
    n = F.col("n_overlap").cast("double")
    cov = F.col("_sab") - F.col("_sa") * F.col("_sb") / n
    va = F.col("_saa") - F.col("_sa") * F.col("_sa") / n
    vb = F.col("_sbb") - F.col("_sb") * F.col("_sb") / n
    r = (F.round(cov / F.sqrt(F.when((va > 0) & (vb > 0), va * vb)), 6)
         + 0.0)
    ranked = agg.select(*keys, "dx", "dy", "n_overlap", r.alias("corr"))
    w = Window.partitionBy(*keys).orderBy(
        F.desc_nulls_last("corr"), F.asc("dx"), F.asc("dy"))
    return (ranked.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(*keys, F.col("dx").cast("int").alias("best_dx"),
                    F.col("dy").cast("int").alias("best_dy"),
                    "n_overlap", "corr"))


def raster_xcorr_sql(a_sql: str, b_sql: str,
                     key_cols: Tuple[str, ...] = ("aoi",),
                     max_offset: int = 2,
                     min_overlap: int = 16) -> str:
    """DuckDB oracle: identical offset lattice, Pearson sums, and
    round-6 argmax. ``a_sql``/``b_sql`` must yield (key, ix, iy, v)."""
    keys = ", ".join(key_cols)
    m = int(max_offset)
    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    akeys = ", ".join(f"a.{k} AS {k}" for k in key_cols)
    span = ", ".join(str(d) for d in range(-m, m + 1))
    return f"""
WITH xca AS ({a_sql}),
xcb AS ({b_sql}),
xco AS (SELECT o1.dx, o2.dy
        FROM unnest([{span}]) AS o1(dx), unnest([{span}]) AS o2(dy)),
xcj AS (
  SELECT {akeys}, o.dx, o.dy,
         CAST(a.v AS DOUBLE) AS va, CAST(b.v AS DOUBLE) AS vb
  FROM xca a CROSS JOIN xco o
  JOIN xcb b ON {on}
   AND b.ix = a.ix + o.dx AND b.iy = a.iy + o.dy
),
xcg AS (
  SELECT {keys}, dx, dy, CAST(COUNT(*) AS BIGINT) AS n_overlap,
         SUM(va) AS sa, SUM(vb) AS sb, SUM(va * vb) AS sab,
         SUM(va * va) AS saa, SUM(vb * vb) AS sbb
  FROM xcj GROUP BY {keys}, dx, dy
  HAVING COUNT(*) >= {int(min_overlap)}
),
xcr AS (
  SELECT {keys}, dx, dy, n_overlap,
         ROUND((sab - sa * sb / n_overlap)
               / SQRT(CASE WHEN saa - sa * sa / n_overlap > 0
                            AND sbb - sb * sb / n_overlap > 0
                      THEN (saa - sa * sa / n_overlap)
                           * (sbb - sb * sb / n_overlap) END), 6)
           + 0.0 AS corr,
         ROW_NUMBER() OVER (PARTITION BY {keys}
                            ORDER BY (ROUND((sab - sa * sb / n_overlap)
               / SQRT(CASE WHEN saa - sa * sa / n_overlap > 0
                            AND sbb - sb * sb / n_overlap > 0
                      THEN (saa - sa * sa / n_overlap)
                           * (sbb - sb * sb / n_overlap) END), 6)
               + 0.0) DESC NULLS LAST, dx ASC, dy ASC) AS rk
  FROM xcg
)
SELECT {keys}, CAST(dx AS INT) AS best_dx, CAST(dy AS INT) AS best_dy,
       n_overlap, corr
FROM xcr WHERE rk = 1
"""


def sieve_filter(cells: DataFrame) -> DataFrame:
    """Sieve filter (GDAL ``SieveFilter`` semantics, drop variant):
    remove mask patches smaller than 4 cells — the
    classification-cleanup step between a thresholded mask and any
    area statistic, killing salt-and-pepper speckle. Composes
    :func:`region_label` with a patch-size LEFT SEMI join; output is
    the surviving labeled foreground.

    Shape: the labeling fixpoint (diameter-bounded rounds, see
    region_label) + ONE patch-cardinality agg + ONE co-partitioned
    semi-join back. Output keeps labels so downstream patch operators
    (patch_stats) run without relabeling.
    """
    lab = region_label(cells)
    keys = ["doc_id"]
    big = (lab.groupBy(*keys, "label")
           .agg(F.count("*").cast("long").alias("_sz"))
           .filter(F.col("_sz") >= 4)
           .select(*keys, "label"))
    return lab.join(big, [*keys, "label"], "left_semi")


def sieve_filter_sql(cells_sql: str,
                     key_cols: Tuple[str, ...] = ("doc_id",),
                     min_size: int = 4,
                     connectivity: int = 4) -> str:
    """DuckDB oracle: closure labels + identical size semi-join."""
    keys = ", ".join(key_cols)
    labeled = region_label_sql(cells_sql, key_cols=key_cols,
                               connectivity=connectivity)
    return f"""
WITH svl AS (SELECT * FROM ({labeled})),
svb AS (
  SELECT {keys}, label FROM svl
  GROUP BY {keys}, label HAVING COUNT(*) >= {int(min_size)}
)
SELECT l.* FROM svl l SEMI JOIN svb b
  ON {' AND '.join(f'l.{k} = b.{k}' for k in key_cols)}
 AND l.label = b.label
"""


# ---------------------------------------------------------------------------
# Great-circle (haversine) distance join over lon/lat
# ---------------------------------------------------------------------------

_HAVERSINE_FMT = (
    "(2.0 * 6371.0088 * asin(sqrt("
    "pow(sin(radians(({lat2}) - ({lat1})) / 2.0), 2)"
    " + cos(radians({lat1})) * cos(radians({lat2}))"
    " * pow(sin(radians(({lon2}) - ({lon1})) / 2.0), 2))))")


def haversine_join(points: DataFrame, stations: DataFrame,
                   radius_km: float) -> DataFrame:
    """Great-circle within-radius pair join over geographic
    coordinates — the lon/lat twin of :func:`distance_join` for data
    that never got projected (ground stations vs scene centroids,
    gazetteer matching). Points carry (lon, lat); stations carry
    (``station_id``, slon, slat); output adds ``dist_km``
    (haversine, round 6).

    Candidate generation bands BOTH sides on latitude (band height =
    the radius in degrees), replicating each station into its ±1
    bands — an EQUI-join a hash join executes, never a theta join —
    then applies a longitude window pre-filter (Δλ ≤ δ/min cos φ over
    the admissible latitude band, clamped near the pole) before the
    exact haversine predicate, so the
    trig runs only on banded survivors. This is the formula-exact
    path; at planetary density the production candidate generator is
    the existing S2-style `cell_join_df` cover. The shared haversine
    formula STRING renders identically into the DuckDB oracle, which
    brute-forces all pairs — an independent check that banding loses
    nothing.
    """
    ddeg = radius_km / 111.1950802335329  # km per degree latitude
    # Band HEIGHT gets 0.1% slack over ddeg: a pair at distance exactly
    # `radius` spans exactly ddeg of latitude, and the rounded distance
    # filter admits up to ~5e-7 km beyond — with bands of exactly ddeg,
    # a boundary pair whose latitudes straddle TWO band edges (e.g.
    # station at -1e-10, point at +ddeg) lands |Δband| = 2 and the ±1
    # replication silently drops it (hypothesis-found edge). With
    # height ddeg*1.001, Δlat/height < 1 strictly, so |Δband| ≤ 1
    # always; the only cost is a sliver more candidates.
    bs = ddeg * 1.001
    band = F.floor(F.col("slat") / F.lit(bs)).cast("long")
    cand = (stations
            .select("station_id", "slon", "slat",
                    F.explode(F.sequence(band - 1, band + 1))
                    .alias("latband")))
    cand = F.broadcast(cand)
    pts = points.withColumn(
        "latband", F.floor(F.col("lat") / F.lit(bs)).cast("long"))
    # Longitude window: a within-radius point may sit up to ddeg poleward
    # of the station, where meridians converge — bounding with
    # cos(slat) alone under-counts by ~(1 + tan^2(slat)*ddeg^2/4) and
    # silently drops near-radius mid/high-latitude pairs. Use the
    # MINIMUM cosine over the admissible latitude band (|slat| + ddeg,
    # capped below 90°), inflated 1% as spherical-geometry headroom;
    # the exact haversine filter below makes any over-width harmless.
    band_lat = F.least(F.lit(89.9), F.abs(F.col("slat")) + F.lit(ddeg))
    lon_w = (F.lit(ddeg * 1.01)
             / F.greatest(F.cos(F.radians(band_lat)), F.lit(0.01)))
    dist = F.expr(_HAVERSINE_FMT.format(
        lat1="lat", lon1="lon", lat2="slat", lon2="slon"))
    dlon = F.abs(F.col("lon") - F.col("slon"))
    dlon = F.least(dlon, F.lit(360.0) - dlon)  # antimeridian wrap
    return (pts.join(cand, "latband")
            .filter(dlon <= lon_w)
            .withColumn("dist_km", F.round(dist, 6))
            .filter(F.col("dist_km") <= radius_km)
            .drop("latband", "slon", "slat"))


def haversine_join_sql(points_sql: str, stations_sql: str,
                       radius_km: float,
                       station_id_col: str = "station_id") -> str:
    """DuckDB oracle: brute-force all pairs with the identical
    haversine formula string — independently verifies the engine's
    latitude banding is lossless."""
    dist = _HAVERSINE_FMT.format(lat1="p.lat", lon1="p.lon",
                                 lat2="s.slat", lon2="s.slon")
    return f"""
WITH p AS ({points_sql}), s AS ({stations_sql})
SELECT p.*, s.{station_id_col}, ROUND({dist}, 6) AS dist_km
FROM p, s
WHERE ROUND({dist}, 6) <= {float(radius_km)!r}
"""


# ---------------------------------------------------------------------------
# Polygon simplification (Douglas-Peucker) and per-group convex hull
# ---------------------------------------------------------------------------

def _dp_simplify(xs: np.ndarray, ys: np.ndarray, tol: float):
    """Iterative Douglas-Peucker over one open polyline (NumPy,
    stack-based — no recursion limits)."""
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        x0, y0, x1, y1 = xs[i0], ys[i0], xs[i1], ys[i1]
        dx, dy = x1 - x0, y1 - y0
        seg2 = dx * dx + dy * dy
        px = xs[i0 + 1:i1]
        py = ys[i0 + 1:i1]
        if seg2 == 0.0:
            d2 = (px - x0) ** 2 + (py - y0) ** 2
        else:
            t = np.clip(((px - x0) * dx + (py - y0) * dy) / seg2, 0.0, 1.0)
            d2 = (px - (x0 + t * dx)) ** 2 + (py - (y0 + t * dy)) ** 2
        j = int(np.argmax(d2))
        if d2[j] > tol * tol:
            k = i0 + 1 + j
            keep[k] = True
            stack.append((i0, k))
            stack.append((k, i1))
    return keep


def simplify_rings(rings: DataFrame, tolerance: float) -> DataFrame:
    """Douglas-Peucker simplification of polygon rings (closed vertex
    arrays of (x, y) structs) within ``tolerance`` — AOI geometries
    arriving at survey resolution carry orders of magnitude more
    vertices than a 10 m pixel grid can see, and every extra vertex
    taxes every downstream point-in-polygon refinement. Guarantees:
    output vertices are a SUBSET of the input, endpoints of the split
    diagonal are kept, and every dropped vertex lies within
    ``tolerance`` of the simplified outline.

    Shape: one Arrow-batched pandas UDF per ring row (the recursion is
    per-geometry and bounded by vertex count — rings never cross rows,
    so this parallelizes embarrassingly across the ring table; no
    shuffle at all). The split recursion is data-dependent —
    non-SQL-expressible — so correctness is pinned by pytest
    properties + golden parity with an independent recursive
    reference; gate records rows-only.
    """
    out_t = T.ArrayType(T.StructType([
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType())]))

    @pandas_udf(out_t)
    def _simp(col):
        res = []
        for ring in col:
            pts = [(float(p["x"]), float(p["y"])) for p in ring]
            closed = len(pts) >= 2 and pts[0] == pts[-1]
            if closed:
                pts = pts[:-1]
            if len(pts) <= 3:
                keep_pts = pts
            else:
                xs = np.array([p[0] for p in pts] + [pts[0][0]])
                ys = np.array([p[1] for p in pts] + [pts[0][1]])
                keep = _dp_simplify(xs, ys, float(tolerance))
                keep_pts = [pts[i] for i in range(len(pts)) if keep[i]]
                if len(keep_pts) < 3:
                    # degenerate collapse: fall back to the triangle of
                    # first/furthest points so the ring stays a polygon
                    keep_pts = pts[:3]
            if closed:
                keep_pts = keep_pts + [keep_pts[0]]
            res.append([{"x": x, "y": y} for x, y in keep_pts])
        import pandas as _pd
        return _pd.Series(res)

    return (rings.select("doc_id", F.col("ring"),
                         F.size("ring").alias("n_before"))
            .withColumn("simplified", _simp(F.col("ring")))
            .select("doc_id", "n_before",
                    F.size("simplified").alias("n_after"), "simplified"))


def convex_hull(points: DataFrame) -> DataFrame:
    """Per-group convex hull (Andrew's monotone chain) with shoelace
    area and perimeter — the AOI footprint summary of a pixel cloud
    (coverage sanity vs the declared polygon, containment debugging).
    Returns (key, n_points, n_hull, hull_area, hull_perimeter).

    Shape: groupBy(key).applyInPandas — one shuffle on the AOI key,
    then an O(n log n) NumPy chain per group; group state is the
    pixel set of ONE AOI (the same per-doc cardinality every decode
    batch already holds). Hull selection is data-dependent —
    non-SQL — pinned by pytest (known squares, collinear edges,
    area/perimeter golden values); gate records rows-only.
    """
    schema = ("key string, n_points long, n_hull long, "
              "hull_area double, hull_perimeter double")

    def _hull(pdf):
        xs = pdf["_hx"].to_numpy(dtype=np.float64)
        ys = pdf["_hy"].to_numpy(dtype=np.float64)
        pts = np.unique(np.column_stack([xs, ys]), axis=0)
        k = str(pdf["_hk"].iloc[0])
        n = len(xs)
        if len(pts) < 3:
            return pd.DataFrame(
                [{"key": k, "n_points": n, "n_hull": len(pts),
                  "hull_area": 0.0, "hull_perimeter": 0.0}])

        def half(p):
            h = []
            for q in p:
                while len(h) >= 2 and (
                        (h[-1][0] - h[-2][0]) * (q[1] - h[-2][1])
                        - (h[-1][1] - h[-2][1]) * (q[0] - h[-2][0])) <= 0:
                    h.pop()
                h.append((q[0], q[1]))
            return h

        lower = half(pts)
        upper = half(pts[::-1])
        hull = lower[:-1] + upper[:-1]
        hx = np.array([p[0] for p in hull])
        hy = np.array([p[1] for p in hull])
        area = 0.5 * abs(np.dot(hx, np.roll(hy, -1))
                         - np.dot(hy, np.roll(hx, -1)))
        per = float(np.sum(np.hypot(np.diff(np.append(hx, hx[0])),
                                    np.diff(np.append(hy, hy[0])))))
        return pd.DataFrame(
            [{"key": k, "n_points": n, "n_hull": len(hull),
              "hull_area": round(area, 6) + 0.0,
              "hull_perimeter": round(per, 6) + 0.0}])

    return (points.select(F.col("doc_id").cast("string").alias("_hk"),
                          F.col("x").cast("double").alias("_hx"),
                          F.col("y").cast("double").alias("_hy"))
            .groupBy("_hk").applyInPandas(lambda pdf: _hull(pdf), schema)
            .withColumnRenamed("key", "doc_id"))


# ---------------------------------------------------------------------------
# Ordinary kriging gap-fill (exponential variogram, kNN neighborhoods)
# ---------------------------------------------------------------------------

def kriging_fill(points: DataFrame, stations: DataFrame,
                 k: int = 8,
                 radius: float = 3 * CELL_SIZE_M,
                 cell_m: float = CELL_SIZE_M,
                 vrange: float = 500.0) -> DataFrame:
    """Ordinary-kriging interpolation at each point from its k nearest
    observed stations — the BLUE geostatistical upgrade to the IDW
    `knn_fill`: weights come from the exponential variogram
    ``γ(h) = nugget + (sill−nugget)·(1 − exp(−3h/range))`` with nugget
    0 and sill 1 (the `variogram` operator estimates these parameters),
    so clustered
    neighbors are de-weighted (screening) and a kriging VARIANCE rides
    along for free. Output: point key + (krig_pred, krig_var, n_used).

    Shape: candidates via :func:`distance_join` (station-side constant
    cell replication + ONE broadcast hash join, no point-cardinality
    shuffle), ranked to k on the unrounded squared distance, reduced
    to ONE array row per point, then a `mapInPandas` kernel solves the
    (k+1) ordinary-kriging system per point in NumPy — k is a small
    constant, so the kernel is O(k³) per point with no cross-point
    state. The per-point linear solve is non-SQL — pytest pins golden
    parity with a direct NumPy reference plus the exact-interpolation
    property (nugget 0 → observed locations reproduce their values);
    the gate records rows-only.
    """
    key_cols = ["doc_id", "x", "y"]
    pairs = distance_join(points, stations.select("station_id", "sx",
                                                  "sy"),
                          radius=radius, cell_m=cell_m)
    d2 = ((F.col("x") - F.col("sx")) ** 2
          + (F.col("y") - F.col("sy")) ** 2)
    w = Window.partitionBy(*key_cols).orderBy(
        d2.asc(), F.col("station_id").asc())
    vals = F.broadcast(stations.select(
        "station_id", F.col("elevation").alias("_kv")))
    top = (pairs.withColumn("_rk", F.row_number().over(w))
           .filter(F.col("_rk") <= int(k))
           .join(vals, "station_id"))
    grouped = (top.groupBy(*key_cols)
               .agg(F.collect_list(F.struct("sx", "sy", "_kv"))
                    .alias("_nbrs")))

    r0 = float(vrange)
    out_schema = T.StructType(
        [grouped.schema[c] for c in key_cols]
        + [T.StructField("krig_pred", T.DoubleType()),
           T.StructField("krig_var", T.DoubleType()),
           T.StructField("n_used", T.IntegerType())])

    def _gamma(h):
        # nugget 0, sill 1
        return 1.0 - np.exp(-3.0 * h / r0)

    def _solve(iterator):
        for pdf in iterator:
            preds, kvars, ns = [], [], []
            for i in range(len(pdf)):
                nb = pdf["_nbrs"].iloc[i]
                sx = np.array([p["sx"] for p in nb])
                sy = np.array([p["sy"] for p in nb])
                vv = np.array([p["_kv"] for p in nb])
                m = len(nb)
                tx, ty = float(pdf["x"].iloc[i]), float(pdf["y"].iloc[i])
                if m == 0:
                    preds.append(np.nan); kvars.append(np.nan)
                    ns.append(0)
                    continue
                dmat = np.hypot(sx[:, None] - sx[None, :],
                                sy[:, None] - sy[None, :])
                g = np.zeros((m + 1, m + 1))
                g[:m, :m] = _gamma(dmat)
                np.fill_diagonal(g[:m, :m], 0.0)
                g[m, :m] = 1.0
                g[:m, m] = 1.0
                rhs = np.append(_gamma(np.hypot(sx - tx, sy - ty)), 1.0)
                try:
                    sol = np.linalg.solve(g, rhs)
                except np.linalg.LinAlgError:
                    sol = np.linalg.lstsq(g, rhs, rcond=None)[0]
                wgt = sol[:m]
                preds.append(float(wgt @ vv))
                kvars.append(float(max(0.0, wgt @ rhs[:m] + sol[m])))
                ns.append(m)
            res = pdf[key_cols].copy()
            res["krig_pred"] = [round(p, 6) + 0.0 for p in preds]
            res["krig_var"] = [round(v, 6) + 0.0 for v in kvars]
            res["n_used"] = ns
            yield res

    return grouped.mapInPandas(_solve, out_schema)


# ---------------------------------------------------------------------------
# Polygon overlay: Sutherland-Hodgman clip + intersection area
# ---------------------------------------------------------------------------

def clip_polygons(subjects: DataFrame, clip_ring) -> DataFrame:
    """Vector overlay: clip every subject polygon by ONE CONVEX clip
    window (Sutherland-Hodgman) and report the clipped ring, vertex
    count, and shoelace areas — the vector complement to the raster
    mask/clip path (AOI ∩ tile footprint, AOI ∩ processing window).
    ``clip_ring`` is a list of (x, y) tuples in CCW order; convexity
    is REQUIRED (S-H folds concave windows incorrectly — tile
    footprints and processing windows are rectangles, the intended
    use) and is validated up front. Subjects may be concave, with the
    classic S-H caveat: when the intersection is DISCONNECTED, the
    pieces come back joined by degenerate bridging edges along the
    window boundary, and the shoelace ``area_out`` of that bridged
    ring can deviate from the true piece-sum (hypothesis-verified on
    random star polygons). Exact whenever the intersection is
    connected — the AOI ∩ processing-window use. Output: (key, n_in,
    area_in, n_out, area_out, clipped).

    Shape: the clip window rides into an Arrow-batched pandas UDF as
    a closure constant (it is ONE small ring); each subject row clips
    independently — zero shuffle, embarrassingly parallel, the same
    map-only discipline as `simplify_rings`. For polygon-set ×
    polygon-set overlays, generate candidates with the existing cell
    cover join and apply this kernel per pair. The edge-walk is
    non-SQL; pytest pins golden rectangle/triangle cases + area
    conservation; the gate records rows-only.
    """
    cw = [(float(x), float(y)) for x, y in clip_ring]
    if len(cw) >= 2 and cw[0] == cw[-1]:
        cw = cw[:-1]
    if len(cw) < 3:
        raise ValueError("clip_ring needs >= 3 distinct vertices")
    # convexity + CCW validation: all cross products must be >= 0
    crosses = []
    m = len(cw)
    for i in range(m):
        ax, ay = cw[i]
        bx, by = cw[(i + 1) % m]
        cx_, cy_ = cw[(i + 2) % m]
        crosses.append((bx - ax) * (cy_ - ay) - (by - ay) * (cx_ - ax))
    if any(c < 0 for c in crosses):
        raise ValueError("clip_ring must be convex and CCW-ordered")

    def _area(pts):
        n = len(pts)
        if n < 3:
            return 0.0
        s = 0.0
        for i in range(n):
            x1, y1 = pts[i]
            x2, y2 = pts[(i + 1) % n]
            s += x1 * y2 - x2 * y1
        return abs(s) / 2.0

    def _clip(pts):
        out = pts
        for i in range(m):
            if not out:
                return []
            ax, ay = cw[i]
            bx, by = cw[(i + 1) % m]
            nxt = []
            K = len(out)
            for j in range(K):
                px, py = out[j]
                qx, qy = out[(j + 1) % K]
                pin = (bx - ax) * (py - ay) - (by - ay) * (px - ax) >= 0
                qin = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax) >= 0
                if pin:
                    nxt.append((px, py))
                if pin != qin:
                    # t solves cross(B-A, P + t(Q-P) - A) = 0:
                    # t = -cross(B-A, P-A) / cross(B-A, Q-P)
                    denom = ((bx - ax) * (qy - py)
                             - (by - ay) * (qx - px))
                    if denom != 0.0:
                        t = (((by - ay) * (px - ax)
                              - (bx - ax) * (py - ay)) / denom)
                        t = min(1.0, max(0.0, t))
                        nxt.append((px + t * (qx - px),
                                    py + t * (qy - py)))
            out = nxt
        return out

    out_t = T.StructType([
        T.StructField("n_in", T.IntegerType()),
        T.StructField("area_in", T.DoubleType()),
        T.StructField("n_out", T.IntegerType()),
        T.StructField("area_out", T.DoubleType()),
        T.StructField("clipped", T.ArrayType(T.StructType([
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType())])))])

    @pandas_udf(out_t)
    def _kernel(col):
        res = []
        for ring in col:
            pts = [(float(p["x"]), float(p["y"])) for p in ring]
            if len(pts) >= 2 and pts[0] == pts[-1]:
                pts = pts[:-1]
            cl = _clip(pts)
            res.append({
                "n_in": len(pts),
                "area_in": round(_area(pts), 6) + 0.0,
                "n_out": len(cl),
                "area_out": round(_area(cl), 6) + 0.0,
                "clipped": [{"x": x, "y": y} for x, y in cl]})
        return pd.DataFrame(res)

    return (subjects.select("doc_id", F.col("ring"))
            .withColumn("_c", _kernel(F.col("ring")))
            .select("doc_id", "_c.n_in", "_c.area_in", "_c.n_out",
                    "_c.area_out", "_c.clipped"))
