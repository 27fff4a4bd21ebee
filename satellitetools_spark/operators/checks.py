"""Declarative data-quality expectations (Deequ/Great-Expectations
style): a constraint suite evaluated in ONE pass over the table, emitted
as a (check, column, metric, threshold, passed) report — the gate a
production ingest puts between "partition landed" and "partition
visible to consumers".

Specs carry the Spark aggregate as a zero-arg thunk (Column
construction needs a live JVM gateway; the SQL side must stay buildable
without one, e.g. for oracle generation). Every expectation contributes one aggregate expression to a single
global HashAggregate (map-side combine; the only wide op), and the
single result row unpivots via a constant-width struct explode — the
same audited shape as the table profiler. Adding a constraint adds a
column to the aggregate, never a pass over the data. ``unique`` is the
one exception to constant state: its COUNT(DISTINCT) plans an Expand
(rows × distinct-constraints); swap in HLL counts at extreme scale the
same way the profiler does.

Each helper returns a spec carrying BOTH the Spark aggregate column and
the equivalent ANSI-SQL aggregate string, so a suite is oracle-checkable
by construction.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def expect_not_null(col: str) -> Dict:
    """Fraction of NULLs must be 0."""
    return {
        "name": "not_null", "column": col, "threshold": 0.0,
        "op": "le",
        "col": lambda: F.avg(F.when(F.col(col).isNull(), 1.0)
                             .otherwise(0.0)),
        "sql": (f"AVG(CASE WHEN {col} IS NULL THEN 1.0 ELSE 0.0 END)"),
    }


def expect_unique(col: str) -> Dict:
    """Duplicate fraction among non-null values must be 0."""
    return {
        "name": "unique", "column": col, "threshold": 0.0,
        "op": "le",
        "col": lambda: ((F.count(col) - F.countDistinct(col))
                        / F.greatest(F.count(col), F.lit(1))),
        "sql": (f"(COUNT({col}) - COUNT(DISTINCT {col})) * 1.0"
                f" / GREATEST(COUNT({col}), 1)"),
    }


def expect_in_range(col: str, lo: float, hi: float) -> Dict:
    """Fraction of non-null values outside [lo, hi] must be 0."""
    def _viol():
        c = F.col(col)
        return F.avg(F.when(c.isNotNull(),
                            F.when((c < lo) | (c > hi), 1.0)
                             .otherwise(0.0)))
    return {
        "name": f"in_range[{lo!r},{hi!r}]", "column": col,
        "threshold": 0.0, "op": "le",
        "col": _viol,
        "sql": (f"AVG(CASE WHEN {col} IS NOT NULL THEN "
                f"CASE WHEN {col} < {lo!r} OR {col} > {hi!r} "
                f"THEN 1.0 ELSE 0.0 END END)"),
    }


def expect_matches(col: str, pattern: str, min_frac: float) -> Dict:
    """Fraction of non-null values matching the regex must be
    >= min_frac (partial-match semantics on both engines)."""
    def _hit():
        c = F.col(col)
        return F.avg(F.when(c.isNotNull(),
                            F.when(c.rlike(pattern), 1.0)
                             .otherwise(0.0)))
    return {
        "name": f"matches[{pattern}]", "column": col,
        "threshold": float(min_frac), "op": "ge",
        "col": _hit,
        "sql": (f"AVG(CASE WHEN {col} IS NOT NULL THEN "
                f"CASE WHEN regexp_matches({col}, '{pattern}') "
                f"THEN 1.0 ELSE 0.0 END END)"),
    }


def expect_min_rows(n: int) -> Dict:
    """Row count must be >= n (empty-partition tripwire)."""
    return {
        "name": f"min_rows[{n}]", "column": "*", "threshold": float(n),
        "op": "ge",
        "col": lambda: F.count(F.lit(1)).cast("double"),
        "sql": "CAST(COUNT(*) AS DOUBLE)",
    }


def expectations(df: DataFrame, suite: List[Dict]) -> DataFrame:
    """Evaluate a constraint suite in one aggregation pass."""
    row = df.agg(*[e["col"]().alias(f"_m_{i}")
                   for i, e in enumerate(suite)])
    structs = []
    for i, e in enumerate(suite):
        m = F.round(F.col(f"_m_{i}"), 9)
        passed = (m <= e["threshold"] if e["op"] == "le"
                  else m >= e["threshold"])
        structs.append(F.struct(
            F.lit(e["name"]).alias("check_name"),
            F.lit(e["column"]).alias("col_name"),
            m.alias("metric"),
            F.lit(e["threshold"]).alias("threshold"),
            passed.alias("passed")))
    return (row.select(F.explode(F.array(*structs)).alias("r"))
               .select("r.*"))


def expectations_sql(table: str, suite: List[Dict],
                     digits: int = 9) -> str:
    """DuckDB oracle: one full-table aggregate per constraint, UNION
    ALL — the unfused equivalent of the one-pass suite."""
    parts = []
    for e in suite:
        cmp = "<=" if e["op"] == "le" else ">="
        parts.append(f"""
SELECT '{e["name"]}' AS check_name, '{e["column"]}' AS col_name,
       ROUND({e["sql"]}, {digits}) AS metric,
       {e["threshold"]!r} AS threshold,
       ROUND({e["sql"]}, {digits}) {cmp} {e["threshold"]!r} AS passed
FROM {table}""")
    return "\nUNION ALL\n".join(parts)


def drift_metrics(df: DataFrame, slice_col: str, cat_col: str) -> DataFrame:
    """Distribution-drift monitor: per data slice (source, day,
    partition...), the categorical distribution of ``cat_col`` compared
    against the whole-corpus reference — Shannon entropy, KL(slice ‖ global)
    and total-variation distance. The dashboard numbers that catch a
    crawler suddenly shipping 90% one language.

    Two hash aggregations, both at (slice × category) cardinality (tiny):
    one builds slice×category counts, one folds them into per-slice
    metrics; the global reference derives from the same counts (no second
    scan). Add-k smoothing keeps KL finite when a slice lacks a category
    the corpus has. All arithmetic is plain double log/sum — written
    identically in the oracle.
    """
    sc = (df.groupBy(slice_col, cat_col)
            .agg(F.count(F.lit(1)).alias("n")))
    cats = sc.groupBy(cat_col).agg(F.sum("n").alias("n_cat"))
    n_cats = F.broadcast(cats.agg(
        F.count(F.lit(1)).alias("k"), F.sum("n_cat").alias("n_tot")))
    # complete the slice×category grid so missing categories contribute
    # their smoothed mass (a cross join of two TINY dimensions)
    slices = sc.groupBy(slice_col).agg(F.sum("n").alias("n_slice"))
    grid = (slices.crossJoin(F.broadcast(cats))
                  .join(sc, [slice_col, cat_col], "left")
                  .withColumn("n", F.coalesce("n", F.lit(0)))
                  .crossJoin(n_cats))
    p = (F.col("n") + 0.5) / (F.col("n_slice") + 0.5 * F.col("k"))
    q = F.col("n_cat") / F.col("n_tot")
    ent_term = -p * F.log(p)
    kl_term = p * F.log(p / q)
    tv_term = F.abs(p - q) / 2
    return (grid.groupBy(slice_col)
                .agg(F.max("n_slice").alias("n_rows"),
                     F.sum(ent_term).alias("entropy"),
                     F.sum(kl_term).alias("kl_vs_global"),
                     F.sum(tv_term).alias("tv_dist")))


def drift_metrics_sql(table: str, slice_col: str, cat_col: str,
                      k_smooth: float = 0.5) -> str:
    """DuckDB oracle: identical grid completion, smoothing, and metric
    folds."""
    return f"""
WITH sc AS (
  SELECT {slice_col}, {cat_col}, COUNT(*) AS n
  FROM {table} GROUP BY {slice_col}, {cat_col}
),
cats AS (SELECT {cat_col}, SUM(n) AS n_cat FROM sc GROUP BY {cat_col}),
tot AS (SELECT COUNT(*) AS k, SUM(n_cat) AS n_tot FROM cats),
slices AS (SELECT {slice_col}, SUM(n) AS n_slice FROM sc
           GROUP BY {slice_col}),
grid AS (
  SELECT s.{slice_col}, c.{cat_col}, s.n_slice, c.n_cat, t.k, t.n_tot,
         COALESCE(sc.n, 0) AS n
  FROM slices s CROSS JOIN cats c CROSS JOIN tot t
  LEFT JOIN sc ON sc.{slice_col} = s.{slice_col}
             AND sc.{cat_col} = c.{cat_col}
),
terms AS (
  SELECT {slice_col}, n_slice,
         (n + {k_smooth!r}) / (n_slice + {k_smooth!r} * k) AS p,
         n_cat * 1.0 / n_tot AS q
  FROM grid
)
SELECT {slice_col}, CAST(MAX(n_slice) AS BIGINT) AS n_rows,
       SUM(-p * ln(p)) AS entropy,
       SUM(p * ln(p / q)) AS kl_vs_global,
       SUM(abs(p - q) / 2) AS tv_dist
FROM terms GROUP BY {slice_col}
"""


def histogram(df: DataFrame, col: str, lo: float, hi: float,
              n_bins: int = 20) -> DataFrame:
    """Fixed-width histogram of a numeric column: one hash aggregation
    keyed by bin index (map-side combine → shuffle at n_bins
    cardinality), the grouped-data companion of the profiler. Values
    below ``lo`` land in bin -1, at/above ``hi`` in bin ``n_bins`` —
    explicit under/overflow bins rather than silent clipping, so the
    histogram always sums to the non-null count. Empty bins are emitted
    (zero count) via a range join to the full bin index — consumers plot
    without gap handling. Bin edges are derived from the index by the
    same expression in the oracle, so they match bit-for-bit.
    """
    if n_bins < 1:
        raise ValueError("histogram: n_bins must be >= 1")
    if not float(hi) > float(lo):
        raise ValueError(
            f"histogram: hi ({hi}) must be > lo ({lo}) — equal bounds "
            "give zero-width bins (divide by zero), reversed bounds a "
            "negative width")
    v = F.col(col)
    width = (float(hi) - float(lo)) / n_bins
    raw = F.floor((v - float(lo)) / F.lit(width)).cast("long")
    bin_ = (F.when(v < lo, F.lit(-1))
             .when(v >= hi, F.lit(n_bins))
             .otherwise(F.least(raw, F.lit(n_bins - 1))).cast("int"))
    counts = (df.filter(v.isNotNull())
                .groupBy(bin_.alias("bin"))
                .agg(F.count(F.lit(1)).alias("n")))
    spark = df.sparkSession
    bins = spark.range(-1, n_bins + 1).select(
        F.col("id").cast("int").alias("bin"))
    return (bins.join(counts, "bin", "left")
                .select("bin",
                        (F.lit(float(lo)) + F.col("bin") * F.lit(width))
                        .alias("bin_lo"),
                        (F.lit(float(lo)) + (F.col("bin") + 1)
                         * F.lit(width)).alias("bin_hi"),
                        F.coalesce("n", F.lit(0)).alias("n")))


def histogram_sql(table: str, col: str, lo: float, hi: float,
                  n_bins: int = 20) -> str:
    """DuckDB oracle: identical binning and edge derivation."""
    width = (float(hi) - float(lo)) / n_bins
    return f"""
WITH hcounts AS (
  SELECT CAST(CASE WHEN {col} < {lo!r} THEN -1
              WHEN {col} >= {hi!r} THEN {n_bins}
              ELSE LEAST(CAST(FLOOR(({col} - {lo!r}) / {width!r}) AS BIGINT),
                         {n_bins - 1}) END AS INT) AS bin,
         COUNT(*) AS n
  FROM {table} WHERE {col} IS NOT NULL
  GROUP BY 1
),
hbins AS (SELECT CAST(u.b AS INT) AS bin
          FROM unnest(generate_series(-1, {n_bins})) u(b))
SELECT bin, {lo!r} + bin * {width!r} AS bin_lo,
       {lo!r} + (bin + 1) * {width!r} AS bin_hi,
       COALESCE(n, 0) AS n
FROM hbins LEFT JOIN hcounts USING (bin)
"""


def pivot_counts(df: DataFrame, pivot_col: str, values,
                 prefix: str = None) -> DataFrame:
    """Wide crosstab: one row per key with a count column per pinned
    ``pivot_col`` value — the feature-row companion of the long-format
    aggregations (SCL class mixes per scene, event types per user).

    The value list is PINNED: ``groupBy().pivot(values=...)`` then
    stays a single map-side-combined hash aggregation; omitting the
    list forces Spark to run an extra distinct-scan job just to
    discover the output schema — never acceptable at corpus scale, and
    a nondeterministic schema besides. Absent values yield 0 so the
    schema is stable across inputs.
    """
    prefix = prefix if prefix is not None else f"{pivot_col.lower()}_"
    out = (df.groupBy("doc_id")
           .pivot(pivot_col, list(values))
           .agg(F.count(F.lit(1))))
    return out.select(
        "doc_id", *[F.coalesce(F.col(str(v)), F.lit(0)).alias(f"{prefix}{v}")
                 for v in values])


def pivot_counts_sql(source_sql: str, pivot_col: str, values,
                     keys=("doc_id",), prefix: str = None) -> str:
    """DuckDB oracle: conditional-aggregation columns — the relational
    meaning of the pivot."""
    prefix = prefix if prefix is not None else f"{pivot_col.lower()}_"
    key_sql = ", ".join(keys)
    # COUNT(CASE...), not SUM(CASE...): DuckDB SUM over integers yields
    # HUGEINT, which pandas renders as float64 ("27.0" vs Spark's "27")
    # and breaks the driver's stringify-sort-hash compare
    cols = ",\n       ".join(
        f"COUNT(CASE WHEN {pivot_col} = {v!r} THEN 1 END)"
        f" AS {prefix}{v}" for v in values)
    return f"""
SELECT {key_sql},
       {cols}
FROM ({source_sql}) t
GROUP BY {key_sql}
"""


def skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """One-row key-skew diagnosis for a prospective shuffle/join key:
    key count, row count, the heaviest key and its share, and the Gini
    coefficient of the key-frequency distribution — the number that
    says whether this key needs salting (see ``skew.salted_join``)
    BEFORE the job falls over, not after.

    Shape: one hash agg at key cardinality; the Gini prefix index is a
    ranked window over the KEY-COUNT table (key cardinality, ≪ rows —
    a global window here is fine because its input is the aggregated
    key table, never the row stream); the top key is a
    TakeOrderedAndProject over the same table. Gini =
    Σ(2i − n_keys − 1)·x_i / (n_keys·Σx) over counts sorted ascending
    (deterministic (count, key) order).
    """
    from pyspark.sql import Window
    counts = (df.groupBy(F.col(key_col).cast("string").alias("k"))
              .agg(F.count("*").alias("n")))
    idx = counts.withColumn(
        "i", F.row_number().over(
            Window.orderBy(F.col("n").asc(), F.col("k").asc())))
    stats = idx.agg(F.count("*").alias("n_keys"),
                    F.sum("n").alias("n_rows"),
                    F.max("n").alias("max_n"))
    gini = (idx.crossJoin(F.broadcast(stats))
            .agg(F.round(F.sum((2 * F.col("i") - F.col("n_keys") - 1)
                               * F.col("n"))
                         / (F.first("n_keys") * F.first("n_rows")), 6)
                 .alias("gini")))
    top = (counts.orderBy(F.col("n").desc(), F.col("k").asc()).limit(1)
           .select(F.col("k").alias("top_key")))
    return (stats.crossJoin(F.broadcast(gini))
            .crossJoin(F.broadcast(top))
            .select("n_keys", "n_rows", "max_n",
                    F.round(F.col("max_n") / F.col("n_rows"), 6)
                    .alias("max_share"), "top_key", "gini"))


def skew_report_sql(table: str, key_col: str) -> str:
    """DuckDB oracle: identical counts, index, and folds."""
    return f"""
WITH scounts AS (
  SELECT CAST({key_col} AS VARCHAR) AS k, COUNT(*) AS n
  FROM {table} GROUP BY 1
),
sidx AS (
  SELECT k, n, ROW_NUMBER() OVER (ORDER BY n ASC, k ASC) AS i
  FROM scounts
),
sstats AS (SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
                  MAX(n) AS max_n
           FROM sidx),
sgini AS (
  SELECT ROUND(SUM((2 * i - (SELECT n_keys FROM sstats) - 1) * n)
               / ((SELECT n_keys FROM sstats) * 1.0
                  * (SELECT n_rows FROM sstats)), 6) AS gini
  FROM sidx
),
stop AS (SELECT k AS top_key FROM scounts
         ORDER BY n DESC, k ASC LIMIT 1)
SELECT n_keys, n_rows, max_n,
       ROUND(max_n * 1.0 / n_rows, 6) AS max_share, top_key, gini
FROM sstats, sgini, stop
"""


def binned_quantiles(df: DataFrame, col: str, lo: float, hi: float,
                     n_bins: int = 200,
                     probs=(0.25, 0.5, 0.75, 0.9, 0.99)) -> DataFrame:
    """Mergeable approximate quantiles from a fixed-bin CDF — the
    10^12-row path the exact per-group ``percentile`` operators defer
    to: state is ``n_bins`` longs (mergeable by vector add), error is
    bounded by one bin width, and unlike ``percentile_approx``'s
    KLL/GK internals the whole computation is deterministic relational
    algebra an oracle reproduces bit-for-bit.

    Estimator: within the bucket where the cumulative count crosses
    p·N, linear-interpolate between the bucket's edges by the
    fractional position of the crossing (values below/above the range
    clamp to the range edges — pick [lo, hi) from a prior
    :func:`profile` pass). Shape: the :func:`histogram` hash agg at bin
    cardinality + a windowed cumulative sum over the BIN table
    (n_bins rows) + one broadcast of the total.
    """
    from pyspark.sql import Window
    h = histogram(df, col, lo, hi, n_bins=n_bins)
    width = (float(hi) - float(lo)) / n_bins
    # ONE plan, one scan of df: the cumulative sum AND the total both
    # ride as windows over the tiny bin table, the probs become a
    # broadcast dimension, and each quantile reads out as min_by over
    # its crossing bins. (The per-prob filter+limit branches this
    # replaced re-executed the full histogram scan once per prob.)
    cum = (h.withColumn(
        "cume", F.sum("n").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding,
                                              0)))
        .withColumn("prev", F.col("cume") - F.col("n"))
        .withColumn("ntot", F.sum("n").over(Window.partitionBy())))
    spark = df.sparkSession
    pdim = spark.createDataFrame([(float(p),) for p in probs],
                                 "p double")
    target = F.col("ntot") * F.col("p")
    q_expr = F.round(
        F.greatest(F.lit(float(lo)), F.least(
            F.lit(float(hi)),
            F.col("bin_lo") + F.lit(width)
            * ((target - F.col("prev")) / F.col("n")))), 6)
    return (cum.crossJoin(F.broadcast(pdim))
            .filter((F.col("cume") >= target) & (F.col("n") > 0))
            .groupBy("p")
            .agg(F.min_by(q_expr, F.col("bin")).alias("q_est")))


def binned_quantiles_sql(table: str, col: str, lo: float, hi: float,
                         n_bins: int = 200,
                         probs=(0.25, 0.5, 0.75, 0.9, 0.99)) -> str:
    """DuckDB oracle: identical histogram, cumulative walk, and
    interpolation."""
    width = (float(hi) - float(lo)) / n_bins
    selects = []
    for p in probs:
        selects.append(f"""
(SELECT {float(p)!r} AS p,
       ROUND(GREATEST({float(lo)!r}, LEAST({float(hi)!r},
             bin_lo + {width!r} * (((SELECT ntot FROM qtot) * {float(p)!r}
                                    - prev) / n))), 6) AS q_est
FROM qcum
WHERE cume >= (SELECT ntot FROM qtot) * {float(p)!r} AND n > 0
ORDER BY bin LIMIT 1)""")
    union = " UNION ALL ".join(selects)
    return f"""
WITH qh AS ({histogram_sql(table, col, lo, hi, n_bins=n_bins)}),
qcum AS (
  SELECT bin, bin_lo, bin_hi, n,
         SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cume,
         SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) - n AS prev
  FROM qh
),
qtot AS (SELECT SUM(n) AS ntot FROM qh)
{union}
"""


def snapshot_diff(old: DataFrame, new: DataFrame, compare_cols) -> DataFrame:
    """Change-data detection between two snapshots of a ``doc_id``-keyed
    table over ``compare_cols``: per key, ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` plus the sorted list of columns that
    differ (NULL-safe comparison) — the
    primitive behind incremental re-processing (re-run only `changed`
    docs) and ingest regression checks.

    Shape: ONE full-outer key-equi join (co-partitioned on the key;
    AQE handles skew) and a pure projection for the status/mask — no
    windows, no second pass. At Iceberg scale the two sides are
    snapshot-pinned reads of the same table, so storage-partition
    pruning applies before the join.
    """
    # presence flags come from the join sides (constant TRUE columns),
    # never from data nullability
    o = old.select("doc_id",
                   *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
                   F.lit(True).alias("_present_o"))
    n = new.select("doc_id",
                   *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
                   F.lit(True).alias("_present_n"))
    j = o.join(n, "doc_id", "full_outer")
    o_present = F.col("_present_o")
    n_present = F.col("_present_n")
    diff_mask = F.array_sort(F.filter(
        F.array(*[F.when(~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")),
                         F.lit(c)) for c in compare_cols]),
        lambda x: x.isNotNull()))
    status = (F.when(o_present.isNull(), F.lit("added"))
              .when(n_present.isNull(), F.lit("removed"))
              .when(F.size(diff_mask) > 0, F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return j.select("doc_id", status.alias("status"),
                    F.when(status == "changed", diff_mask)
                    .otherwise(F.array().cast("array<string>"))
                    .alias("changed_cols"))


def snapshot_diff_sql(old_sql: str, new_sql: str, key: str = "doc_id",
                      compare_cols=()) -> str:
    """DuckDB oracle: identical full-outer join and NULL-safe mask."""
    cols = list(compare_cols)
    mask_items = ", ".join(
        f"CASE WHEN NOT (o.{c} IS NOT DISTINCT FROM n.{c})"
        f" THEN '{c}' END" for c in cols)
    return f"""
WITH sold AS ({old_sql}), snew AS ({new_sql}),
sj AS (
  SELECT COALESCE(o.{key}, n.{key}) AS {key},
         (o.{key} IS NOT NULL) AS o_present,
         (n.{key} IS NOT NULL) AS n_present,
         list_sort(list_filter([{mask_items}], x -> x IS NOT NULL))
           AS mask
  FROM sold o FULL OUTER JOIN snew n ON o.{key} = n.{key}
)
SELECT {key},
       CASE WHEN NOT o_present THEN 'added'
            WHEN NOT n_present THEN 'removed'
            WHEN len(mask) > 0 THEN 'changed'
            ELSE 'unchanged' END AS status,
       CASE WHEN o_present AND n_present AND len(mask) > 0 THEN mask
            ELSE [] END AS changed_cols
FROM sj
"""


def benford(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-digit audit of a positive numeric column —
    the classic fabricated-data / unit-mixing detector for financial
    and measurement feeds: observed share of each leading digit 1-9 vs
    the expected ``log10(1 + 1/d)``, plus the column-wide Pearson
    chi-square statistic (same value on every row; 8 df, >20 is a red
    flag) so one row suffices to read the verdict.

    Shape: ONE hash agg at digit cardinality (≤9 rows) over a codegen
    leading-digit expression — no sorting, no second scan; the
    chi-square total is a window over the 9-row aggregate.
    """
    d = F.floor(F.col(col) / F.pow(
        F.lit(10.0), F.floor(F.log10(F.col(col))))).cast("int")
    agg = (df.filter(F.col(col) > 0)
           .select(d.alias("digit"))
           .groupBy("digit")
           .agg(F.count("*").cast("long").alias("n")))
    from pyspark.sql import Window as _W
    tot = agg.agg(F.sum("n").cast("double").alias("tot"))
    j = agg.crossJoin(F.broadcast(tot))
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    obs = F.col("n") / F.col("tot")
    j = j.select("digit", "n", "tot", obs.alias("observed"),
                 expected.alias("expected"))
    chi = F.sum(((F.col("observed") - F.col("expected")) ** 2)
                / F.col("expected") * F.col("tot")).over(_W.partitionBy())
    return j.select(
        "digit", "n",
        F.round("observed", 6).alias("observed"),
        F.round("expected", 6).alias("expected"),
        F.round(chi, 6).alias("chi2"))


def benford_sql(table: str, col: str) -> str:
    """DuckDB oracle: identical leading-digit expression, shares, and
    chi-square window."""
    return f"""
WITH bfb AS (
  SELECT CAST(FLOOR({col} / POW(10.0, FLOOR(LOG10({col})))) AS INT)
           AS digit
  FROM {table} WHERE {col} > 0
),
bfa AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
  FROM bfb GROUP BY digit
),
bft AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM bfa),
bfo AS (
  SELECT digit, n, tot, n / tot AS observed,
         LOG10(1.0 + 1.0 / digit) AS expected
  FROM bfa, bft
)
SELECT digit, n,
       ROUND(observed, 6) AS observed,
       ROUND(expected, 6) AS expected,
       ROUND(SUM(POW(observed - expected, 2) / expected * tot) OVER (),
             6) AS chi2
FROM bfo
"""


def spearman_corr(df: DataFrame, key_cols, a_col: str, b_col: str
                  ) -> DataFrame:
    """Spearman rank correlation between two columns per group — the
    monotone-association check that survives outliers and nonlinear
    scales (is document length associated with word count per language,
    sensor A with sensor B per site?). Ties get average (mid) ranks —
    midrank(v) = (# obs below v) + (t_v + 1)/2, identical algebra to
    RANK() + (ties − 1)/2 — then Pearson's moment formula on the ranks.

    Shape (r4): the facts reduce to the per-group (a, b) JOINT
    histogram with one hash agg; midranks come from the two marginal
    histograms via the grouped TWO-LEVEL scan (cumsum.grouped_
    prefix_sums — a per-group RANK() over raw rows would single-thread
    each group's row set, the fact-cardinality version of the alphabet
    cliff), joined back at alphabet cardinality; ONE final key-level
    moment agg weighted by cell counts. No self-joins, nothing
    quadratic, no per-row rank pass.
    """
    from satellitetools_spark.operators.cumsum import \
        grouped_prefix_sums
    keys = list(key_cols)
    # NULL semantics (r5, advisor): pairwise-complete observations —
    # rows where either value is NULL are excluded up front, and the
    # oracle SQL carries the same WHERE so both sides share one
    # documented semantic (the equality join back onto the marginal
    # tables would silently drop NULLs on the Spark side only).
    cells = (df.filter(F.col(a_col).isNotNull()
                       & F.col(b_col).isNotNull())
             .groupBy(*keys, F.col(a_col).alias("_a"),
                      F.col(b_col).alias("_b"))
             .agg(F.count("*").cast("double").alias("_c")))

    def _marginal_mid(value_alias):
        h = (cells.groupBy(*keys, value_alias)
             .agg(F.sum("_c").alias("_t")))
        cum = grouped_prefix_sums(
            h, keys, [F.col(value_alias).asc()], ["_t"])
        return cum.select(
            *keys, value_alias,
            (F.col("cum__t") - F.col("_t")
             + (F.col("_t") + 1.0) / 2.0).alias("_mid_" + value_alias))

    cells = (cells
             .join(_marginal_mid("_a"), [*keys, "_a"])
             .join(_marginal_mid("_b"), [*keys, "_b"]))
    ra, rb, c = F.col("_mid__a"), F.col("_mid__b"), F.col("_c")
    n = F.sum(c)
    agg = cells.groupBy(*keys).agg(
        F.sum(c).cast("long").alias("n_obs"),
        (F.sum(c * ra) / n).alias("ma"),
        (F.sum(c * rb) / n).alias("mb"),
        (F.sum(c * ra * rb) / n).alias("mab"),
        (F.sum(c * ra * ra) / n).alias("maa"),
        (F.sum(c * rb * rb) / n).alias("mbb"))
    cov = F.col("mab") - F.col("ma") * F.col("mb")
    den = F.sqrt((F.col("maa") - F.col("ma") ** 2)
                 * (F.col("mbb") - F.col("mb") ** 2))
    return agg.select(*keys, "n_obs",
                      F.round(cov / F.when(den != 0, den), 6)
                      .alias("spearman"))


def spearman_corr_sql(source_sql: str, key_cols, a_col: str, b_col: str
                      ) -> str:
    """DuckDB oracle: identical midrank construction and moment-form
    Pearson on the ranks. Pairwise-complete: NULL a/b rows are
    excluded, matching the operator's explicit filter."""
    keys = ", ".join(key_cols)
    return f"""
WITH spsrc AS (
  SELECT * FROM ({source_sql})
  WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
),
spr AS (
  SELECT {keys},
         RANK() OVER (PARTITION BY {keys} ORDER BY {a_col})
           + (COUNT(*) OVER (PARTITION BY {keys}, {a_col}) - 1) / 2.0
           AS ra,
         RANK() OVER (PARTITION BY {keys} ORDER BY {b_col})
           + (COUNT(*) OVER (PARTITION BY {keys}, {b_col}) - 1) / 2.0
           AS rb
  FROM spsrc
),
spa AS (
  SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_obs,
         AVG(ra) AS ma, AVG(rb) AS mb, AVG(ra * rb) AS mab,
         AVG(ra * ra) AS maa, AVG(rb * rb) AS mbb
  FROM spr GROUP BY {keys}
)
SELECT {keys}, n_obs,
       ROUND((mab - ma * mb)
             / NULLIF(SQRT((maa - ma * ma) * (mbb - mb * mb)), 0), 6)
         AS spearman
FROM spa
"""


def ab_ztest(events: DataFrame) -> DataFrame:
    """Two-proportion z-test between experiment variants — the A/B
    readout every event pipeline ends in (did variant B convert better,
    and is the lift outside noise?): per-unit conversion (a unit
    converts if ANY of its events succeeds), per-variant n/x/p̂, lift,
    and the pooled z ``(p̂₁−p̂₀)/√(p̂(1−p̂)(1/n₀+1/n₁))``.
    Units are users; the variant is the deterministic id split
    ``pmod(user_id, 2)``, so assignment is reproducible; a purchase event
    is a success.

    Shape: ONE unit-cardinality hash agg (events collapse map-side),
    one variant-cardinality agg, a 1×1 conditional-agg readout — three
    shuffles of strictly shrinking data, nothing window-sorted.
    """
    units = (events
             .select(F.col("user_id").alias("u"),
                     F.expr("pmod(user_id, 2)").cast("int").alias("variant"),
                     F.expr("CAST(event_type = 'purchase' AS INT)")
                     .cast("int").alias("s"))
             .groupBy("u", "variant")
             .agg(F.max("s").alias("converted")))
    va = units.groupBy("variant").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("converted").cast("double").alias("x"))
    out = va.agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("variant") == 0, F.col("x"))).alias("x0"),
        F.sum(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("variant") == 1, F.col("x"))).alias("x1"))
    p0 = F.col("x0") / F.col("n0")
    p1 = F.col("x1") / F.col("n1")
    pp = (F.col("x0") + F.col("x1")) / (F.col("n0") + F.col("n1"))
    se = F.sqrt(pp * (1.0 - pp)
                * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return out.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("x0").cast("long").alias("x0"),
        F.expr("ROUND(x0 / n0, 6) + 0.0").alias("p0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("x1").cast("long").alias("x1"),
        F.expr("ROUND(x1 / n1, 6) + 0.0").alias("p1"),
        (F.round(p1 - p0, 6) + 0.0).alias("lift"),
        (F.round((p1 - p0) / F.when(se != 0, se), 6) + 0.0).alias("z"))


def ab_ztest_sql(table: str, unit_col: str = "user_id",
                 variant_expr: str = "user_id % 2",
                 success_expr: str =
                 "CAST(event_type = 'purchase' AS INT)") -> str:
    """DuckDB oracle: identical unit collapse, variant fold, and pooled
    z expression (pass a dialect-equivalent ``variant_expr``)."""
    return f"""
WITH abu AS (
  SELECT {unit_col} AS u, CAST({variant_expr} AS INT) AS variant,
         MAX({success_expr}) AS converted
  FROM {table} GROUP BY u, CAST({variant_expr} AS INT)
),
abv AS (
  SELECT variant, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(converted) AS DOUBLE) AS x
  FROM abu GROUP BY variant
),
abt AS (
  SELECT SUM(CASE WHEN variant = 0 THEN n END) AS n0,
         SUM(CASE WHEN variant = 0 THEN x END) AS x0,
         SUM(CASE WHEN variant = 1 THEN n END) AS n1,
         SUM(CASE WHEN variant = 1 THEN x END) AS x1
  FROM abv
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(x0 AS BIGINT) AS x0,
       ROUND(x0 / n0, 6) + 0.0 AS p0,
       CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
       ROUND(x1 / n1, 6) + 0.0 AS p1,
       ROUND(x1 / n1 - x0 / n0, 6) + 0.0 AS lift,
       ROUND((x1 / n1 - x0 / n0)
             / NULLIF(SQRT((x0 + x1) / (n0 + n1)
                           * (1.0 - (x0 + x1) / (n0 + n1))
                           * (1.0 / n0 + 1.0 / n1)), 0), 6) + 0.0 AS z
FROM abt
"""


def circular_stats(df: DataFrame, angle_col: str) -> DataFrame:
    """Circular (directional) statistics per key for angle-valued data
    in degrees — view/sun azimuths, aspect, wind direction — where the
    arithmetic mean is WRONG (mean of 359° and 1° is 0°, not 180°):
    mean direction ``atan2(Σsin, Σcos)`` normalized to [0, 360), mean
    resultant length ``R ∈ [0, 1]`` (1 = perfectly aligned), and
    circular variance ``1 − R``.

    Shape: ONE map-side-combinable hash agg of (n, Σcos, Σsin) — fully
    mergeable state, key-cardinality output, pure codegen trig.
    """
    keys = ["doc_id"]
    rad = F.radians(F.col(angle_col).cast("double"))
    g = (df.groupBy(*keys)
         .agg(F.count("*").cast("long").alias("n_obs"),
              F.sum(F.cos(rad)).alias("_c"),
              F.sum(F.sin(rad)).alias("_s")))
    cbar = F.col("_c") / F.col("n_obs")
    sbar = F.col("_s") / F.col("n_obs")
    r = F.sqrt(cbar * cbar + sbar * sbar)
    mean_dir = F.pmod(F.degrees(F.atan2(F.col("_s"), F.col("_c")))
                      + 360.0, F.lit(360.0))
    return g.select(
        *keys, "n_obs",
        (F.round(mean_dir, 6) + 0.0).alias("mean_dir_deg"),
        (F.round(r, 6) + 0.0).alias("resultant_len"),
        (F.round(1.0 - r, 6) + 0.0).alias("circ_var"))


def circular_stats_sql(src_sql: str, angle_sql: str,
                       key_cols=("doc_id",)) -> str:
    """DuckDB oracle: identical sums and readout; ``x**2`` is written
    as a product on both sides and pmod as ``((x % 360) + 360) % 360``
    (bitwise-identical to Spark's pmod)."""
    keys = ", ".join(key_cols)
    return f"""
WITH csb AS (
  SELECT {keys}, radians(CAST(({angle_sql}) AS DOUBLE)) AS rad
  FROM ({src_sql})
),
csg AS (
  SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_obs,
         SUM(cos(rad)) AS c, SUM(sin(rad)) AS s
  FROM csb GROUP BY {keys}
)
SELECT {keys}, n_obs,
       ROUND(((degrees(atan2(s, c)) + 360.0) % 360.0 + 360.0) % 360.0,
             6) + 0.0 AS mean_dir_deg,
       ROUND(sqrt((c / n_obs) * (c / n_obs) + (s / n_obs) * (s / n_obs)),
             6) + 0.0 AS resultant_len,
       ROUND(1.0 - sqrt((c / n_obs) * (c / n_obs)
                        + (s / n_obs) * (s / n_obs)), 6) + 0.0
         AS circ_var
FROM csg
"""


def chi_square_independence(df: DataFrame, a_col: str, b_col: str
                            ) -> DataFrame:
    """Pearson χ² test of independence between two categorical
    columns, plus Cramér's V effect size — "is language mix actually
    different across sources, or just noise": χ² = Σ (O − E)²/E over
    the FULL |A|×|B| contingency grid (zero-observed cells included —
    omitting them biases χ² down), E = nₐ·n_b / N.

    Shape: one (a, b) hash agg at contingency cardinality, two
    marginal aggs, then a broadcast marginal cross join LEFT-joined to
    the observed counts — every post-agg relation is alphabet-sized.
    Counts integer-exact; E and the ratio are the only floats.
    """
    obs = (df.groupBy(F.col(a_col).alias("_a"),
                      F.col(b_col).alias("_b"))
           .agg(F.count("*").cast("long").alias("_o")))
    ma = obs.groupBy("_a").agg(F.sum("_o").cast("long").alias("_na"))
    mb = obs.groupBy("_b").agg(F.sum("_o").cast("long").alias("_nb"))
    nn = obs.agg(F.sum("_o").cast("long").alias("_n"))
    grid = (ma.crossJoin(F.broadcast(mb))
            .join(obs, ["_a", "_b"], "left")
            .na.fill({"_o": 0})
            .crossJoin(F.broadcast(nn)))
    e = (F.col("_na") * F.col("_nb")).cast("double") / F.col("_n")
    cell = (F.col("_o") - e) * (F.col("_o") - e) / e
    agg = grid.agg(
        F.sum(cell).alias("_chi2"),
        F.countDistinct("_a").cast("long").alias("_ka"),
        F.countDistinct("_b").cast("long").alias("_kb"),
        F.max("_n").alias("_nn"))
    dof = (F.col("_ka") - 1) * (F.col("_kb") - 1)
    v = F.sqrt(F.col("_chi2")
               / (F.col("_nn")
                  * F.least(F.col("_ka") - 1, F.col("_kb") - 1)))
    return agg.select(
        (F.round("_chi2", 6) + 0.0).alias("chi2"),
        dof.cast("long").alias("dof"),
        F.col("_ka").alias("k_a"), F.col("_kb").alias("k_b"),
        F.col("_nn").alias("n"),
        (F.round(v, 6) + 0.0).alias("cramers_v"))


def chi_square_independence_sql(table: str, a_col: str,
                                b_col: str) -> str:
    """DuckDB oracle: identical full-grid contingency algebra."""
    return f"""
WITH xso AS (
  SELECT {a_col} AS a, {b_col} AS b, CAST(COUNT(*) AS BIGINT) AS o
  FROM {table} GROUP BY {a_col}, {b_col}
),
xsa AS (SELECT a, CAST(SUM(o) AS BIGINT) AS na FROM xso GROUP BY a),
xsb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS nb FROM xso GROUP BY b),
xsn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM xso),
xsg AS (
  SELECT xsa.a, xsb.b, xsa.na, xsb.nb, COALESCE(xso.o, 0) AS o, xsn.n
  FROM xsa CROSS JOIN xsb
  LEFT JOIN xso ON xso.a = xsa.a AND xso.b = xsb.b
  CROSS JOIN xsn
)
SELECT ROUND(SUM((o - CAST(na * nb AS DOUBLE) / n)
                 * (o - CAST(na * nb AS DOUBLE) / n)
                 / (CAST(na * nb AS DOUBLE) / n)), 6) + 0.0 AS chi2,
       CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1)
            AS BIGINT) AS dof,
       CAST(COUNT(DISTINCT a) AS BIGINT) AS k_a,
       CAST(COUNT(DISTINCT b) AS BIGINT) AS k_b,
       CAST(MAX(n) AS BIGINT) AS n,
       ROUND(SQRT(SUM((o - CAST(na * nb AS DOUBLE) / n)
                      * (o - CAST(na * nb AS DOUBLE) / n)
                      / (CAST(na * nb AS DOUBLE) / n))
                  / (MAX(n) * LEAST(COUNT(DISTINCT a) - 1,
                                    COUNT(DISTINCT b) - 1))), 6)
         + 0.0 AS cramers_v
FROM xsg
"""
