"""Deterministic hash-based sampling / split assignment.

Training pipelines need train/val/test membership that is (a) a pure
function of the document key — stable across runs, cluster sizes, and
re-partitioning, so a document can never leak between splits when data is
re-ingested — and (b) computable without any global state (no sort, no
sampling pass). A polynomial char fold over the key (the same portable
(131, 1e9+7) hash as the winnowing operator — NOT engine hash functions,
so the DuckDB oracle computes bit-identical buckets) maps each key to a
bucket in [0, n_buckets); contiguous bucket ranges sized by the requested
weights give the split labels. Pure codegen expressions, no shuffle, no
Python.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from satellitetools_spark.operators.cumsum import prefix_sums

_B = 131
_M = 1_000_000_007
DEFAULT_SPLITS: Tuple[Tuple[str, int], ...] = (
    ("train", 80), ("val", 10), ("test", 10))


def portable_hash(col: Column) -> Column:
    """Polynomial (131, 1e9+7) char fold over a string key — the same
    portable hash the winnowing operator uses, NOT an engine hash, so
    DuckDB oracles compute bit-identical values."""
    return F.aggregate(
        F.split(col.cast("string"), ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * _B + F.coalesce(F.ascii(c), F.lit(0))) % _M)


def portable_hash_sql(expr: str) -> str:
    """DuckDB expression computing the identical char fold."""
    return f"""CAST(list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, length(CAST({expr} AS VARCHAR))),
                            j -> CAST(ascii(substr(CAST({expr} AS VARCHAR), j, 1)) AS BIGINT))),
           (acc, c) -> (acc * {_B} + c) % {_M}) AS BIGINT)"""


def _bounds(splits: Sequence[Tuple[str, int]]):
    total = sum(w for _, w in splits)
    acc, out = 0, []
    for name, w in splits:
        acc += w
        out.append((name, acc))
    return out, total


def hash_split(df: DataFrame,
               splits: Sequence[Tuple[str, int]] = DEFAULT_SPLITS) -> DataFrame:
    """Append (bucket, split) columns keyed on a portable hash of ``doc_id``.

    ``splits`` is an ordered (name, weight) sequence; buckets
    [0, sum(weights)) are assigned to splits in order, so ("train", 80),
    ("val", 10), ("test", 10) puts bucket<80 in train, 80-89 in val,
    90-99 in test.
    """
    bounds, total = _bounds(splits)
    bucket = (portable_hash(F.col("doc_id")) % total).cast("int")
    # build the WHEN chain over the PROJECTED bucket column, not the hash
    # expression — otherwise every branch embeds its own copy of the fold
    label = F.lit(None).cast("string")
    for name, hi in reversed(bounds):
        label = F.when(F.col("bucket") < hi, F.lit(name)).otherwise(label)
    return df.withColumn("bucket", bucket).withColumn("split", label)


def hash_split_sql(table: str = "documents", key_col: str = "doc_id",
                   splits: Sequence[Tuple[str, int]] = DEFAULT_SPLITS,
                   columns: str = "*") -> str:
    bounds, total = _bounds(splits)
    case = "CASE " + " ".join(
        f"WHEN bucket < {hi} THEN '{name}'" for name, hi in bounds) + " END"
    return f"""
WITH h AS (
  SELECT {columns},
         CAST({portable_hash_sql(key_col)} % {total} AS INT) AS bucket
  FROM {table}
)
SELECT *, {case} AS split FROM h
"""


def stratified_sample(df: DataFrame, stratum_col: str,
                      fractions: dict, denom: int = 100_000) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample (``sampleBy`` done right
    for re-ingestable corpora).

    A row is kept iff ``portable_hash(doc_id ':' stratum) % denom <
    round(fraction[stratum] * denom)`` — a pure function of (key, stratum),
    so membership is stable across runs, partitionings, and cluster sizes,
    and the decision for one stratum is independent of every other stratum
    (the stratum string salts the hash). Unknown strata are dropped
    (fraction 0). Map-only codegen: no shuffle, no sampling pass,
    no driver state — unlike ``DataFrame.sampleBy`` whose Bernoulli draw
    depends on partition layout and seed plumbing.

    Keeps all input columns and appends ``sample_bucket`` (the hash cell in
    [0, denom)) so the selection is auditable.
    """
    # concat (not concat_ws): NULL key or NULL stratum propagates to a
    # NULL bucket, and `bucket < thresh` then drops the row — bit-identical
    # to the SQL oracle's `||`, which also yields NULL (concat_ws would
    # silently skip the NULL and sample NULL-stratum rows at the key-only
    # hash, diverging from the oracle)
    salted = F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                      F.col(stratum_col))
    bucket = (portable_hash(salted) % denom).cast("int")
    thresh = F.lit(0)
    for name, frac in sorted(fractions.items()):
        thresh = F.when(F.col(stratum_col) == name,
                        F.lit(int(round(frac * denom)))).otherwise(thresh)
    return (df.withColumn("sample_bucket", bucket)
              .filter(F.col("sample_bucket") < thresh))


def stratified_sample_sql(table: str = "documents", stratum_col: str = "lang",
                          fractions: dict = None, key_col: str = "doc_id",
                          denom: int = 100_000,
                          default_fraction: float = 0.0,
                          columns: str = "*") -> str:
    """DuckDB oracle computing bit-identical membership."""
    fractions = fractions or {}
    salted = f"CAST({key_col} AS VARCHAR) || ':' || {stratum_col}"
    case = "CASE " + " ".join(
        f"WHEN {stratum_col} = '{name}' THEN {int(round(frac * denom))}"
        for name, frac in sorted(fractions.items())
    ) + f" ELSE {int(round(default_fraction * denom))} END"
    return f"""
WITH sb AS (
  SELECT {columns},
         CAST({portable_hash_sql(salted)} % {denom} AS INT) AS sample_bucket
  FROM {table}
)
SELECT * FROM sb WHERE sample_bucket < {case}
"""


def pps_sample(df: DataFrame, weight_col: str, ref_weight: int) -> DataFrame:
    """Deterministic Poisson PPS sample: each row is kept independently
    with probability ``min(1, weight / ref_weight)`` — probability-
    proportional-to-size selection (e.g. upweighting long or high-quality
    documents), the weighted counterpart of :func:`stratified_sample`.

    The draw is ``portable_hash(doc_id ':pps') % 100000``; the keep test
    ``bucket * ref_weight < weight * 100000`` is pure BIGINT arithmetic —
    no float thresholds, so membership is bit-identical in any engine with
    64-bit integers (the DuckDB oracle), stable under re-partitioning and
    re-ingest, and independent of every other row. Map-only codegen that
    fuses into the scan filter; no shuffle, no sampling pass, no driver
    state. ``include_prob`` is appended for Horvitz-Thompson reweighting
    (sum 1/include_prob over the sample estimates population totals).

    ``weight_col`` must be integral and non-negative; ``bucket * ref_weight``
    maxes at ``100000 * ref_weight`` — keep that under 2^63 (it is, by ~13
    orders of magnitude, for any sane ref_weight).
    """
    salted = F.concat(F.col("doc_id").cast("string"), F.lit(":pps"))
    bucket = (portable_hash(salted) % 100_000).cast("long")
    w = F.col(weight_col).cast("long")
    return (df.withColumn("sample_bucket", bucket)
              .filter(F.col("sample_bucket") * F.lit(int(ref_weight))
                      < w * F.lit(100_000))
              .withColumn(
                  "include_prob",
                  F.least(F.lit(1.0),
                          w.cast("double") / F.lit(float(ref_weight)))))


def pps_sample_sql(table: str = "documents", weight_col: str = "n_chars",
                   ref_weight: int = 400, key_col: str = "doc_id",
                   denom: int = 100_000, salt: str = "pps",
                   columns: str = "*") -> str:
    """DuckDB oracle computing bit-identical PPS membership."""
    salted = f"CAST({key_col} AS VARCHAR) || ':{salt}'"
    return f"""
WITH sb AS (
  SELECT {columns},
         CAST({portable_hash_sql(salted)} % {denom} AS BIGINT) AS sample_bucket
  FROM {table}
)
SELECT *,
       LEAST(CAST(1.0 AS DOUBLE),
             CAST({weight_col} AS DOUBLE) / {float(ref_weight)})
         AS include_prob
FROM sb
WHERE sample_bucket * {int(ref_weight)} < CAST({weight_col} AS BIGINT) * {int(denom)}
"""


def global_row_number(df: DataFrame, order_by: Sequence[Column],
                      num_partitions: int = None) -> DataFrame:
    """Global 0-based row index in the total order given by ``order_by`` —
    the scale-safe form of ``row_number() OVER (ORDER BY ...)``, which on a
    cluster would collapse into a single partition.

    It is the index-only two-pass scan of :func:`cumsum.prefix_sums`: one
    range shuffle with local sort, pinned by a checkpoint; one count per
    partition collected to the driver; then a map-only projection
    ``offset[pid] + local_rank``. No second data shuffle, no window, no
    Python.

    ``order_by`` must be a total order (append a unique tiebreaker) —
    correctness then does not depend on where the range boundaries fall.
    At 100 TB the checkpoint pins one materialized copy in executor
    storage; callers indexing a truly huge table should write the range
    partition to a table instead and index the re-read.
    """
    out = prefix_sums(df, order_by, [], num_partitions=num_partitions,
                      with_index=True)
    return (out.withColumn("_idx", F.col("_idx") - 1)
            .withColumnRenamed("_idx", "global_idx"))


def global_row_number_sql(table: str, order_by_sql: str,
                          columns: str = "*",
                          idx_col: str = "global_idx") -> str:
    """Oracle: the single-node window form of the same total order."""
    return f"""
SELECT {columns},
       CAST(row_number() OVER (ORDER BY {order_by_sql}) - 1 AS BIGINT)
         AS {idx_col}
FROM {table}
"""


def pack_sequences(docs: DataFrame, seq_len: int = 2048,
                   n_shards: int = 64) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style pretraining batches).

    Documents are laid into ``n_shards`` independent token streams — shard
    chosen by the portable hash of the key, order within a shard by the key
    itself — and each stream is cut into ``seq_len``-token packs. A
    document is assigned the pack in which its first token lands
    (``pack_id = shard:floor(start_offset/seq_len)``) plus its offset
    within that pack, so a writer can materialize training sequences with
    a deterministic, partitioning-independent layout: re-running on a
    re-ingested or re-partitioned copy of the corpus yields bit-identical
    pack assignments.

    Scale shape: the only wide operation is one window sum partitioned by
    shard. With n_shards ≫ executors the per-shard sorts run fully
    parallel and each shard holds ~1/n_shards of the corpus — no global
    sort, no driver state. At 100 TB raise n_shards (it only changes the
    layout, not the semantics).
    """
    from pyspark.sql import Window

    toks = F.size(F.regexp_extract_all(F.col("text"), F.lit("\\S+"), 0))
    base = docs.select(
        F.col("doc_id"),
        (portable_hash(F.col("doc_id")) % n_shards).cast("int").alias("shard"),
        toks.alias("n_tokens"),
    )
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    # materialize the window sum ONCE, then derive pack_id/pack_pos from
    # the alias — inlining `start` three times makes the Window operator
    # evaluate three identical frames
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return base.withColumn("start_offset", start).select(
        "doc_id", "shard", "n_tokens", "start_offset",
        F.concat_ws(":", F.col("shard"),
                    F.floor(F.col("start_offset") / seq_len)).alias("pack_id"),
        (F.col("start_offset") % seq_len).alias("pack_pos"),
    )


def pack_sequences_sql_parts(table: str = "documents", seq_len: int = 2048,
                             n_shards: int = 64, key_col: str = "doc_id",
                             text_col: str = "text") -> tuple:
    """(CTE definitions, final SELECT) so callers can splice the packing
    stage into a larger WITH chain (the training-data pipeline oracle)."""
    ctes = f"""pack_base AS (
  SELECT {key_col},
         CAST({portable_hash_sql(key_col)} % {n_shards} AS INT) AS shard,
         CAST(len(regexp_extract_all({text_col}, '\\S+')) AS INT) AS n_tokens
  FROM {table}
),
pack_off AS (
  SELECT *,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY {key_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM pack_base
)"""
    final = f"""SELECT {key_col}, shard, n_tokens, start_offset,
       shard || ':' || CAST(CAST(FLOOR(start_offset * 1.0 / {seq_len}) AS BIGINT) AS VARCHAR) AS pack_id,
       CAST(start_offset % {seq_len} AS BIGINT) AS pack_pos
FROM pack_off"""
    return ctes, final


def pack_sequences_sql(table: str = "documents", seq_len: int = 2048,
                       n_shards: int = 64, key_col: str = "doc_id",
                       text_col: str = "text") -> str:
    return f"""
WITH base AS (
  SELECT {key_col},
         CAST({portable_hash_sql(key_col)} % {n_shards} AS INT) AS shard,
         CAST(len(regexp_extract_all({text_col}, '\\S+')) AS INT) AS n_tokens
  FROM {table}
),
off AS (
  SELECT *,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY {key_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM base
)
SELECT {key_col}, shard, n_tokens, start_offset,
       shard || ':' || CAST(CAST(FLOOR(start_offset * 1.0 / {seq_len}) AS BIGINT) AS VARCHAR) AS pack_id,
       CAST(start_offset % {seq_len} AS BIGINT) AS pack_pos
FROM off
"""


def wrs_sample(df: DataFrame, weight_col: str, n: int) -> DataFrame:
    """Weighted random sampling WITHOUT replacement (Efraimidis &
    Spirakis A-ES, IPL'06): draw exactly ``n`` rows where each row's
    inclusion odds are proportional to its weight — the exact-size
    counterpart of the Poisson :func:`pps_sample` (fixed budget, e.g.
    "exactly 1M documents, long ones more likely").

    Per row, a deterministic uniform ``u = (portable_hash(doc_id:wrs)+1) /
    (M+1)`` and the A-ES ranking key ``ln(u)/w`` (the monotone-stable
    form of ``u^(1/w)`` — ln+divide instead of pow keeps cross-engine
    float drift out of the ordering); the sample is the global top-n by
    key. One TakeOrderedAndProject (per-partition top-n, driver merge of
    n·partitions candidates) — no full sort, no shuffle of non-winners,
    no driver state beyond the result. Keys are rounded to 1e-12 before
    ranking with the id as tiebreak, so engine ulp differences in
    ``ln`` cannot reorder the sample (verified by the DuckDB oracle
    computing the identical fold). Rows with non-positive weight are
    excluded (their ranking key is undefined).
    """
    salted = F.concat(F.col("doc_id").cast("string"), F.lit(":wrs"))
    u = (portable_hash(salted) + 1).cast("double") / F.lit(float(_M + 1))
    w = F.col(weight_col).cast("double")
    score = F.round(F.log(u) / w, 12)
    return (df.filter(w > 0)
              .withColumn("wrs_key", score)
              .orderBy(F.desc("wrs_key"), F.asc("doc_id"))
              .limit(n))


def wrs_sample_sql(table: str = "documents", weight_col: str = "n_chars",
                   n: int = 100, key_col: str = "doc_id",
                   salt: str = "wrs", columns: str = "*") -> str:
    """DuckDB oracle: identical hash fold, uniform, and A-ES key."""
    salted = f"CAST({key_col} AS VARCHAR) || ':{salt}'"
    return f"""
SELECT {columns},
       ROUND(ln(({portable_hash_sql(salted)} + 1) / {float(_M + 1)!r})
             / CAST({weight_col} AS DOUBLE), 12) AS wrs_key
FROM {table}
WHERE CAST({weight_col} AS DOUBLE) > 0
ORDER BY wrs_key DESC, {key_col} ASC
LIMIT {n}
"""


def mixture_weights(df: DataFrame, alpha: float = 0.7) -> DataFrame:
    """Temperature-based source-mixing weights — the multilingual /
    multi-source α-sampling rule (cf. the mBERT/XLM-R exponential
    smoothing): group share ``pᵢ = nᵢ/Σn`` is flattened to
    ``qᵢ ∝ pᵢ^α`` (α < 1 upsamples the tail, α = 1 keeps natural
    proportions), and each group's per-document sampling boost is
    ``qᵢ/pᵢ``. Emits docs, size, natural share, smoothed share, and
    the boost every downstream sampler needs.

    Shape: ONE hash agg at group cardinality, a 1-row total agg
    broadcast back, pure codegen arithmetic — the output is a tiny
    dimension meant to broadcast-join onto the corpus.
    """
    g = df.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("double")).alias("size_sum"))
    tot = g.agg(F.sum("n_docs").cast("double").alias("_t"))
    p = F.col("n_docs") / F.col("_t")
    # fence: both the normalizer agg and the output read j — one
    # materialization of the (group-cardinality) frame, not two corpus
    # scans
    j = (g.crossJoin(F.broadcast(tot)).withColumn("_p", p)
         .localCheckpoint(eager=False))
    q_unn = F.pow(F.col("_p"), float(alpha))
    z = j.agg(F.sum(q_unn).alias("_z"))
    out = j.crossJoin(F.broadcast(z))
    q = q_unn / F.col("_z")
    return (out.select("lang", "n_docs",
                       F.round(F.col("size_sum"), 6).alias("size_sum"),
                       F.round(F.col("_p"), 6).alias("p_natural"),
                       F.round(q, 6).alias("p_smoothed"),
                       F.round(q / F.col("_p"), 6).alias("boost"))
            .orderBy("lang"))


def mixture_weights_sql(table: str = "documents", group_col: str = "lang",
                        alpha: float = 0.7,
                        size_col: str = "n_chars") -> str:
    """DuckDB oracle: identical group agg, total, power smoothing, and
    normalization."""
    return f"""
WITH mwg AS (
  SELECT {group_col}, CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(CAST({size_col} AS DOUBLE)) AS size_sum
  FROM {table} GROUP BY {group_col}
),
mwt AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS t FROM mwg),
mwp AS (SELECT g.*, g.n_docs / s.t AS p FROM mwg g CROSS JOIN mwt s),
mwz AS (SELECT SUM(POW(p, {alpha!r})) AS z FROM mwp)
SELECT {group_col}, n_docs,
       ROUND(size_sum, 6) AS size_sum,
       ROUND(p, 6) AS p_natural,
       ROUND(POW(p, {alpha!r}) / z.z, 6) AS p_smoothed,
       ROUND(POW(p, {alpha!r}) / z.z / p, 6) AS boost
FROM mwp CROSS JOIN mwz z
ORDER BY {group_col}
"""
