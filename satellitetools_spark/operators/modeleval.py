"""Model-evaluation and information-theoretic readouts — the metrics a
training-data pipeline computes when a scored corpus comes back from a
classifier: does the score rank positives above negatives (ROC-AUC /
Gini), is it honest as a probability (calibration bins, ECE/MCE, the
Murphy decomposition of the Brier score), how much of the corpus must
be read to capture the positives (cumulative gains / lift), how much
do two labelings share (mutual information, Cramér's V), have two
corpora drifted apart (Jensen-Shannon), which of many per-segment
tests survive multiple comparison (Benjamini-Hochberg FDR), and what
is the uncertainty on a corpus mean without a second pass (one-pass
deterministic Poisson bootstrap).

Design rules shared with `inference.py`:

* **Alphabet-sized state.** Every rank/CDF construction reduces the
  fact stream with ONE map-side-combined hash aggregation to a
  distinct-value (or bin/cell) histogram and runs windows only over
  that table — AUC never sorts raw rows, gains never `ntile`s the
  corpus, MI never joins facts to facts.
* **Both engines evaluate the same algebra.** Statistics round to 6
  with `+0.0` signed-zero normalization; guarded denominators return
  NULL; where a formula is numerically delicate (the normal CDF, the
  Poisson inverse) one shared formula STRING is rendered into both the
  Spark plan and the DuckDB oracle so the arithmetic is textually
  identical.
* **Determinism over raw speed for the bootstrap.** Replicate weights
  are a pure function of (key, replicate, seed) through a portable
  modular LCG hash, so the confidence interval is bit-stable across
  runs, partitionings, and cluster sizes.

At 10^12 rows: the histograms here are value-alphabet- or
bin-cardinality-sized (scores are rounded/binned upstream exactly as
`inference.py` documents for its rank tests); the bootstrap's
`explode(B)` is reduced map-side to B partial rows per task before the
only shuffle, so the wire carries O(B × tasks), not O(B × rows).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _r6(col):
    return F.round(col, 6) + 0.0


# ---------------------------------------------------------------------------
# ROC-AUC via the rank (Mann-Whitney) identity
# ---------------------------------------------------------------------------

def roc_auc(df: DataFrame, label_expr: str, score_expr: str) -> DataFrame:
    """Area under the ROC curve of ``score_expr`` against the binary
    ``label_expr`` via the Mann-Whitney identity
    ``AUC = (R₁ − n₁(n₁+1)/2) / (n₀ n₁)`` where R₁ is the positives'
    midrank sum — the tie-correct trapezoidal AUC, computed without
    ever sorting a raw row.

    Midranks come from the distinct-score histogram exactly as
    `inference.mann_whitney_u` builds them: midrank(v) =
    (# obs < v) + (t_v + 1)/2. One fact-stream hash agg, then the
    cumulative pass over the score alphabet runs as a TWO-LEVEL scan
    (``cumsum.prefix_sums``: range partition + per-partition window +
    literal offsets) so a continuous score at 10^12 rows never funnels
    its alphabet through one task; a 1-row readout with ``auc`` and
    ``gini = 2·AUC − 1``. Counts are integers in doubles, so the
    regrouped sums are bit-exact.
    """
    from satellitetools_spark.operators.cumsum import prefix_sums
    h = (df.select(F.expr(label_expr).cast("int").alias("y"),
                   F.expr(score_expr).alias("s"))
         .filter(F.col("s").isNotNull() & F.col("y").isNotNull())
         .groupBy("s")
         .agg(F.sum(F.when(F.col("y") == 0, 1.0).otherwise(0.0))
              .alias("c0"),
              F.sum(F.when(F.col("y") == 1, 1.0).otherwise(0.0))
              .alias("c1")))
    cum = (prefix_sums(h.withColumn("t", F.col("c0") + F.col("c1")),
                       [F.col("s").asc()], ["t"])
           .withColumn("below", F.col("cum_t") - F.col("t")))
    mid = F.col("below") + (F.col("c0") + F.col("c1") + 1.0) / 2.0
    agg = cum.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"),
                  F.sum(F.col("c1") * mid).alias("r1"))
    auc = ((F.col("r1") - F.col("n1") * (F.col("n1") + 1.0) / 2.0)
           / (F.col("n0") * F.col("n1")))
    return agg.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        _r6(auc).alias("auc"),
        _r6(2.0 * auc - 1.0).alias("gini"))


def roc_auc_sql(table: str, label_expr: str, score_expr: str) -> str:
    """DuckDB oracle: identical midrank-histogram construction."""
    return f"""
WITH rah AS (
  SELECT {score_expr} AS s,
         SUM(CASE WHEN CAST({label_expr} AS INT) = 0
             THEN 1.0 ELSE 0.0 END) AS c0,
         SUM(CASE WHEN CAST({label_expr} AS INT) = 1
             THEN 1.0 ELSE 0.0 END) AS c1
  FROM {table}
  WHERE ({score_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL
  GROUP BY 1
),
rac AS (
  SELECT c0, c1,
         COALESCE(SUM(c0 + c1) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
           AS below
  FROM rah
),
raa AS (
  SELECT SUM(c0) AS n0, SUM(c1) AS n1,
         SUM(c1 * (below + (c0 + c1 + 1.0) / 2.0)) AS r1
  FROM rac
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       ROUND((r1 - n1 * (n1 + 1.0) / 2.0) / (n0 * n1), 6) + 0.0 AS auc,
       ROUND(2.0 * (r1 - n1 * (n1 + 1.0) / 2.0) / (n0 * n1) - 1.0, 6)
         + 0.0 AS gini
FROM raa
"""


# ---------------------------------------------------------------------------
# Calibration bins + ECE
# ---------------------------------------------------------------------------

def calibration_bins(df: DataFrame, label_expr: str, score_expr: str,
                     lo: float = 0.0) -> DataFrame:
    """Reliability-diagram table: scores bucketed into 10 fixed
    bins over [lo, 1) (out-of-range clamped to the edge bins — a
    probability score has hard edges, unlike `checks.histogram`'s
    open-ended under/overflow), each bin reporting count, mean score
    (confidence), positive fraction (accuracy), and the signed gap.
    One hash agg to 10 rows; nothing else.
    """
    if lo >= 1.0:
        raise ValueError(f"calibration_bins: need lo < 1, got {lo}")
    width = (1.0 - lo) / 10
    s = F.expr(score_expr)
    b = F.least(F.greatest(F.floor((s - F.lit(lo)) / F.lit(width)),
                           F.lit(0)), F.lit(9)).cast("int")
    out = (df.select(F.expr(label_expr).cast("double").alias("y"),
                     s.alias("s"), b.alias("bin"))
           .filter(F.col("s").isNotNull() & F.col("y").isNotNull())
           .groupBy("bin")
           .agg(F.count("*").alias("n"),
                F.avg("s").alias("avg_score"),
                F.avg("y").alias("frac_pos")))
    return out.select(
        "bin", F.col("n").cast("long").alias("n"),
        _r6(F.col("avg_score")).alias("avg_score"),
        _r6(F.col("frac_pos")).alias("frac_pos"),
        _r6(F.col("frac_pos") - F.col("avg_score")).alias("gap"))


def calibration_bins_sql(table: str, label_expr: str, score_expr: str,
                         lo: float = 0.0, hi: float = 1.0,
                         n_bins: int = 10) -> str:
    width = (hi - lo) / n_bins
    return f"""
WITH cbh AS (
  SELECT CAST(LEAST(GREATEST(FLOOR(({score_expr} - {lo!r}) / {width!r}),
                             0), {n_bins - 1}) AS INT) AS bin,
         CAST({label_expr} AS DOUBLE) AS y, {score_expr} AS s
  FROM {table}
  WHERE ({score_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(s), 6) + 0.0 AS avg_score,
       ROUND(AVG(y), 6) + 0.0 AS frac_pos,
       ROUND(AVG(y) - AVG(s), 6) + 0.0 AS gap
FROM cbh GROUP BY bin
"""


# ---------------------------------------------------------------------------
# Brier score + Murphy decomposition + ECE/MCE
# ---------------------------------------------------------------------------

def brier_decomposition(df: DataFrame, label_expr: str, score_expr: str,
                        lo: float = 0.0) -> DataFrame:
    """One-row probability-quality readout: the exact Brier score
    ``mean((s−y)²)`` plus its binned Murphy decomposition —
    reliability Σ (n_k/N)(s̄_k − ȳ_k)², resolution Σ (n_k/N)(ȳ_k − ȳ)²,
    uncertainty ȳ(1 − ȳ) — and the calibration summaries
    ECE = Σ (n_k/N)|ȳ_k − s̄_k| and MCE = max_k |ȳ_k − s̄_k|.

    ``brier ≈ reliability − resolution + uncertainty`` holds only up
    to the within-bin score variance (the standard binned-estimator
    residual); the exact Brier column is the ground truth.

    Shape: one fact agg to the 10-bin calibration table (Brier's Σ(s−y)²
    rides along as a bin-level partial), then a 1-row fold — two
    aggregations total, both map-side combined.
    """
    if lo >= 1.0:
        raise ValueError(f"brier_decomposition: need lo < 1, got {lo}")
    width = (1.0 - lo) / 10
    s = F.expr(score_expr)
    b = F.least(F.greatest(F.floor((s - F.lit(lo)) / F.lit(width)),
                           F.lit(0)), F.lit(9)).cast("int")
    binned = (df.select(F.expr(label_expr).cast("double").alias("y"),
                        s.alias("s"), b.alias("bin"))
              .filter(F.col("s").isNotNull() & F.col("y").isNotNull())
              .groupBy("bin")
              .agg(F.count("*").cast("double").alias("nk"),
                   F.avg("s").alias("sk"),
                   F.avg("y").alias("yk"),
                   F.sum((F.col("s") - F.col("y"))
                         * (F.col("s") - F.col("y"))).alias("sq")))
    wall = Window.partitionBy()
    g = (binned
         .withColumn("n", F.sum("nk").over(wall))
         .withColumn("ybar", F.sum(F.col("nk") * F.col("yk")).over(wall)
                     / F.col("n")))
    agg = g.agg(
        F.max("n").alias("n"), F.max("ybar").alias("ybar"),
        F.sum("sq").alias("sq"),
        F.sum(F.col("nk") * (F.col("sk") - F.col("yk"))
              * (F.col("sk") - F.col("yk"))).alias("rel_n"),
        F.sum(F.col("nk") * (F.col("yk") - F.col("ybar"))
              * (F.col("yk") - F.col("ybar"))).alias("res_n"),
        F.sum(F.col("nk") * F.abs(F.col("yk") - F.col("sk")))
        .alias("ece_n"),
        F.max(F.abs(F.col("yk") - F.col("sk"))).alias("mce"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        _r6(F.col("sq") / F.col("n")).alias("brier"),
        _r6(F.col("rel_n") / F.col("n")).alias("reliability"),
        _r6(F.col("res_n") / F.col("n")).alias("resolution"),
        _r6(F.col("ybar") * (1.0 - F.col("ybar"))).alias("uncertainty"),
        _r6(F.col("ece_n") / F.col("n")).alias("ece"),
        _r6(F.col("mce")).alias("mce"))


def brier_decomposition_sql(table: str, label_expr: str, score_expr: str,
                            lo: float = 0.0, hi: float = 1.0,
                            n_bins: int = 10) -> str:
    width = (hi - lo) / n_bins
    return f"""
WITH bdh AS (
  SELECT CAST(LEAST(GREATEST(FLOOR(({score_expr} - {lo!r}) / {width!r}),
                             0), {n_bins - 1}) AS INT) AS bin,
         CAST({label_expr} AS DOUBLE) AS y, {score_expr} AS s
  FROM {table}
  WHERE ({score_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL
),
bdb AS (
  SELECT bin, CAST(COUNT(*) AS DOUBLE) AS nk, AVG(s) AS sk, AVG(y) AS yk,
         SUM((s - y) * (s - y)) AS sq
  FROM bdh GROUP BY bin
),
bdg AS (
  SELECT *, SUM(nk) OVER () AS n,
         SUM(nk * yk) OVER () / SUM(nk) OVER () AS ybar
  FROM bdb
)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       ROUND(SUM(sq) / MAX(n), 6) + 0.0 AS brier,
       ROUND(SUM(nk * (sk - yk) * (sk - yk)) / MAX(n), 6) + 0.0
         AS reliability,
       ROUND(SUM(nk * (yk - ybar) * (yk - ybar)) / MAX(n), 6) + 0.0
         AS resolution,
       ROUND(MAX(ybar) * (1.0 - MAX(ybar)), 6) + 0.0 AS uncertainty,
       ROUND(SUM(nk * ABS(yk - sk)) / MAX(n), 6) + 0.0 AS ece,
       ROUND(MAX(ABS(yk - sk)), 6) + 0.0 AS mce
FROM bdg
"""


# ---------------------------------------------------------------------------
# Cumulative gains / lift
# ---------------------------------------------------------------------------

def cumulative_gains(df: DataFrame, label_expr: str, score_expr: str) -> DataFrame:
    """Gains table: reading the corpus in descending-score order, what
    fraction of all positives has been captured after each 1/10
    slice — with ``lift`` = captured fraction ÷ read fraction.

    Bucket boundaries are drawn on the distinct-score histogram, never
    by `ntile` over raw rows: a score value whose cumulative count ends
    in slice d puts its WHOLE tie group in bucket d
    (``CEIL(10 · cum_n / N)``), so ties never straddle a
    boundary and the result is independent of physical row order.
    Buckets are therefore approximately, not exactly, equal-sized in
    the presence of heavy ties — documented behavior, determinism wins.
    """
    from satellitetools_spark.operators.cumsum import prefix_sums
    h = (df.select(F.expr(label_expr).cast("int").alias("y"),
                   F.expr(score_expr).alias("s"))
         .filter(F.col("s").isNotNull() & F.col("y").isNotNull())
         .groupBy("s")
         .agg(F.count("*").cast("double").alias("cn"),
              F.sum(F.col("y").cast("double")).alias("cp")))
    # descending cumulative count over the score alphabet as a
    # two-level scan (never a single-partition window); the grand
    # totals come back driver-side from the same partials for free
    cum, tot = prefix_sums(h, [F.col("s").desc()], ["cn"],
                           return_totals=True)
    cum = (cum.withColumnRenamed("cum_cn", "cum_n")
           .withColumn("n", F.lit(tot["cn"])))
    bucket = F.least(
        F.ceil(F.lit(10.0) * F.col("cum_n") / F.col("n")),
        F.lit(10)).cast("int")
    byb = (cum.withColumn("bucket", bucket)
           .groupBy("bucket")
           .agg(F.sum("cn").alias("bn"), F.sum("cp").alias("bp")))
    # the bucket table is <= n_buckets rows, but the same two-level
    # scan keeps the plan single-partition-window-free uniformly
    out, btot = prefix_sums(byb, [F.col("bucket").asc()],
                            ["bn", "bp"], return_totals=True)
    out = (out.withColumnRenamed("cum_bn", "cum_n")
           .withColumnRenamed("cum_bp", "cum_pos")
           .withColumn("n", F.lit(btot["bn"]))
           .withColumn("npos", F.lit(btot["bp"])))
    gain = F.col("cum_pos") / F.col("npos")
    readf = F.col("cum_n") / F.col("n")
    return out.select(
        "bucket",
        F.col("bn").cast("long").alias("n"),
        F.col("bp").cast("long").alias("n_pos"),
        _r6(readf).alias("read_frac"),
        _r6(gain).alias("gain"),
        _r6(gain / readf).alias("lift"))


def cumulative_gains_sql(table: str, label_expr: str, score_expr: str,
                         n_buckets: int = 10) -> str:
    return f"""
WITH cgh AS (
  SELECT {score_expr} AS s, CAST(COUNT(*) AS DOUBLE) AS cn,
         SUM(CAST(CAST({label_expr} AS INT) AS DOUBLE)) AS cp
  FROM {table}
  WHERE ({score_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL
  GROUP BY 1
),
cgc AS (
  SELECT cn, cp,
         SUM(cn) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_n,
         SUM(cn) OVER () AS n
  FROM cgh
),
cgb AS (
  SELECT CAST(LEAST(CEIL({float(n_buckets)} * cum_n / n),
                    {n_buckets}) AS INT) AS bucket,
         SUM(cn) AS bn, SUM(cp) AS bp
  FROM cgc GROUP BY 1
),
cgo AS (
  SELECT bucket, bn, bp,
         SUM(bn) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_n,
         SUM(bp) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_pos,
         SUM(bn) OVER () AS n, SUM(bp) OVER () AS npos
  FROM cgb
)
SELECT bucket, CAST(bn AS BIGINT) AS n, CAST(bp AS BIGINT) AS n_pos,
       ROUND(cum_n / n, 6) + 0.0 AS read_frac,
       ROUND(cum_pos / npos, 6) + 0.0 AS gain,
       ROUND((cum_pos / npos) / (cum_n / n), 6) + 0.0 AS lift
FROM cgo
"""


# ---------------------------------------------------------------------------
# Mutual information / entropies between two categorical columns
# ---------------------------------------------------------------------------

def mutual_information(df: DataFrame, a_expr: str, b_expr: str
                       ) -> DataFrame:
    """Mutual information (nats) between two categorical expressions,
    with marginal entropies and the geometric-mean-normalized NMI —
    the label-agreement readout (how much does `source` tell you about
    `lang`) that chi² significance alone does not give.

    Shape: ONE joint-histogram hash agg (|A|·|B| cells), marginals via
    two windows over the cell table, a 1-row fold. Zero-count cells
    simply never appear, which is exactly the 0·log 0 = 0 convention.
    """
    j = (df.select(F.expr(a_expr).alias("a"), F.expr(b_expr).alias("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
         .groupBy("a", "b").agg(F.count("*").cast("double").alias("c")))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    g = (j.withColumn("ca", F.sum("c").over(wa))
         .withColumn("cb", F.sum("c").over(wb))
         .withColumn("n", F.sum("c").over(wall)))
    p = F.col("c") / F.col("n")
    agg = g.agg(
        F.max("n").alias("n"),
        F.sum(p * F.log(F.col("c") * F.col("n")
                        / (F.col("ca") * F.col("cb")))).alias("mi"),
        # H(A): each cell carries −p_ab·ln p_a; summing over b collapses
        # to −Σ p_a ln p_a exactly (same trick for H(B), H(A,B))
        (-F.sum(p * F.log(F.col("ca") / F.col("n")))).alias("h_a"),
        (-F.sum(p * F.log(F.col("cb") / F.col("n")))).alias("h_b"),
        (-F.sum(p * F.log(p))).alias("h_ab"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        _r6(F.col("h_a")).alias("h_a"),
        _r6(F.col("h_b")).alias("h_b"),
        _r6(F.col("h_ab")).alias("h_ab"),
        _r6(F.col("mi")).alias("mi"),
        _r6(F.col("mi") / F.sqrt(F.col("h_a") * F.col("h_b")))
        .alias("nmi"))


def mutual_information_sql(table: str, a_expr: str, b_expr: str) -> str:
    return f"""
WITH mij AS (
  SELECT {a_expr} AS a, {b_expr} AS b, CAST(COUNT(*) AS DOUBLE) AS c
  FROM {table}
  WHERE ({a_expr}) IS NOT NULL AND ({b_expr}) IS NOT NULL
  GROUP BY 1, 2
),
mig AS (
  SELECT c, SUM(c) OVER (PARTITION BY a) AS ca,
         SUM(c) OVER (PARTITION BY b) AS cb,
         SUM(c) OVER () AS n
  FROM mij
),
mia AS (
  SELECT MAX(n) AS n,
         SUM((c / n) * LN(c * n / (ca * cb))) AS mi,
         -SUM((c / n) * LN(ca / n)) AS h_a,
         -SUM((c / n) * LN(cb / n)) AS h_b,
         -SUM((c / n) * LN(c / n)) AS h_ab
  FROM mig
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(h_a, 6) + 0.0 AS h_a, ROUND(h_b, 6) + 0.0 AS h_b,
       ROUND(h_ab, 6) + 0.0 AS h_ab, ROUND(mi, 6) + 0.0 AS mi,
       ROUND(mi / SQRT(h_a * h_b), 6) + 0.0 AS nmi
FROM mia
"""


# ---------------------------------------------------------------------------
# Cramér's V (effect size for categorical association)
# ---------------------------------------------------------------------------

def cramers_v(df: DataFrame, a_expr: str, b_expr: str) -> DataFrame:
    """Cramér's V = sqrt(χ² / (N·(min(r,c)−1))) between two categorical
    expressions — the [0,1] effect size that
    `checks.chi_square_independence`'s raw χ² (which grows with N)
    cannot provide at corpus scale. Same joint-histogram shape as
    `mutual_information`; zero-observed cells enter through the
    identity ``χ² = N·Σ_present c²/(cₐ·c_b) − N`` (expand (c−e)²/e and
    note Σ_all e = Σ_all c = N), so no full-grid join is needed —
    unlike the direct Σ(O−E)²/E over present cells only, which biases
    χ² down whenever the contingency table is sparse.
    """
    j = (df.select(F.expr(a_expr).alias("a"), F.expr(b_expr).alias("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
         .groupBy("a", "b").agg(F.count("*").cast("double").alias("c")))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    g = (j.withColumn("ca", F.sum("c").over(wa))
         .withColumn("cb", F.sum("c").over(wb))
         .withColumn("n", F.sum("c").over(wall)))
    agg = g.agg(
        F.max("n").alias("n"),
        F.countDistinct("a").cast("double").alias("r"),
        F.countDistinct("b").cast("double").alias("cc"),
        (F.max("n") * F.sum(F.col("c") * F.col("c")
                            / (F.col("ca") * F.col("cb")))
         - F.max("n")).alias("chi2"))
    v = F.sqrt(F.col("chi2")
               / (F.col("n") * (F.least("r", "cc") - 1.0)))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_rows"),
        F.col("cc").cast("long").alias("n_cols"),
        _r6(F.col("chi2")).alias("chi2"),
        _r6(v).alias("v"))


def cramers_v_sql(table: str, a_expr: str, b_expr: str) -> str:
    return f"""
WITH cvj AS (
  SELECT {a_expr} AS a, {b_expr} AS b, CAST(COUNT(*) AS DOUBLE) AS c
  FROM {table}
  WHERE ({a_expr}) IS NOT NULL AND ({b_expr}) IS NOT NULL
  GROUP BY 1, 2
),
cvg AS (
  SELECT a, b, c, SUM(c) OVER (PARTITION BY a) AS ca,
         SUM(c) OVER (PARTITION BY b) AS cb,
         SUM(c) OVER () AS n
  FROM cvj
),
cva AS (
  SELECT MAX(n) AS n,
         CAST(COUNT(DISTINCT a) AS DOUBLE) AS r,
         CAST(COUNT(DISTINCT b) AS DOUBLE) AS cc,
         MAX(n) * SUM(c * c / (ca * cb)) - MAX(n) AS chi2
  FROM cvg
)
SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS n_rows,
       CAST(cc AS BIGINT) AS n_cols,
       ROUND(chi2, 6) + 0.0 AS chi2,
       ROUND(SQRT(chi2 / (n * (LEAST(r, cc) - 1.0))), 6) + 0.0 AS v
FROM cva
"""


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between two categorical distributions
# ---------------------------------------------------------------------------

def js_divergence(df: DataFrame, group_expr: str, cat_expr: str
                  ) -> DataFrame:
    """Jensen-Shannon divergence between the ``cat_expr`` distributions
    of the two groups ``group_expr`` splits the stream into — the
    symmetric, bounded ([0, ln 2] nats) drift readout that, unlike KL
    or PSI, needs NO smoothing: a category present in only one group
    contributes through the mixture M = (P+Q)/2, never a division by
    zero. Categories absent from one side get their p·ln(p/m) term
    guarded to 0 by construction (c=0 ⇒ term 0).

    One category-histogram agg, a 1-row fold. Emits nats and bits.
    """
    h = (df.select(F.expr(group_expr).cast("int").alias("g"),
                   F.expr(cat_expr).alias("k"))
         .filter(F.col("k").isNotNull())
         .groupBy("k")
         .agg(F.sum(F.when(F.col("g") == 0, 1.0).otherwise(0.0))
              .alias("c0"),
              F.sum(F.when(F.col("g") == 1, 1.0).otherwise(0.0))
              .alias("c1")))
    wall = Window.partitionBy()
    g = (h.withColumn("n0", F.sum("c0").over(wall))
         .withColumn("n1", F.sum("c1").over(wall)))
    p = F.col("c0") / F.col("n0")
    q = F.col("c1") / F.col("n1")
    m = (p + q) / 2.0
    term_p = F.when(F.col("c0") > 0, p * F.log(p / m)).otherwise(0.0)
    term_q = F.when(F.col("c1") > 0, q * F.log(q / m)).otherwise(0.0)
    agg = g.agg(F.max("n0").alias("n0"), F.max("n1").alias("n1"),
                (0.5 * F.sum(term_p) + 0.5 * F.sum(term_q)).alias("jsd"))
    return agg.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        _r6(F.col("jsd")).alias("jsd_nats"),
        _r6(F.col("jsd") / float(0.6931471805599453)).alias("jsd_bits"))


def js_divergence_sql(table: str, group_expr: str, cat_expr: str) -> str:
    return f"""
WITH jsh AS (
  SELECT {cat_expr} AS k,
         SUM(CASE WHEN CAST({group_expr} AS INT) = 0
             THEN 1.0 ELSE 0.0 END) AS c0,
         SUM(CASE WHEN CAST({group_expr} AS INT) = 1
             THEN 1.0 ELSE 0.0 END) AS c1
  FROM {table} WHERE ({cat_expr}) IS NOT NULL GROUP BY 1
),
jsg AS (
  SELECT c0, c1, SUM(c0) OVER () AS n0, SUM(c1) OVER () AS n1
  FROM jsh
),
jsa AS (
  SELECT MAX(n0) AS n0, MAX(n1) AS n1,
         0.5 * SUM(CASE WHEN c0 > 0 THEN (c0 / n0)
             * LN((c0 / n0) / ((c0 / n0 + c1 / n1) / 2.0))
             ELSE 0.0 END)
         + 0.5 * SUM(CASE WHEN c1 > 0 THEN (c1 / n1)
             * LN((c1 / n1) / ((c0 / n0 + c1 / n1) / 2.0))
             ELSE 0.0 END) AS jsd
  FROM jsg
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       ROUND(jsd, 6) + 0.0 AS jsd_nats,
       ROUND(jsd / 0.6931471805599453, 6) + 0.0 AS jsd_bits
FROM jsa
"""


# ---------------------------------------------------------------------------
# Per-group vs-rest Welch t + normal p, and Benjamini-Hochberg FDR
# ---------------------------------------------------------------------------

# Abramowitz & Stegun 7.1.26 rational erf approximation (|err| < 1.5e-7),
# rendered as ONE formula string into both engines so the arithmetic is
# textually identical. {z} must be a non-negative expression.
_ERF_FMT = ("(1.0 - (((((1.061405429 * (1.0 / (1.0 + 0.3275911 * ({z})))"
            " - 1.453152027) * (1.0 / (1.0 + 0.3275911 * ({z})))"
            " + 1.421413741) * (1.0 / (1.0 + 0.3275911 * ({z})))"
            " - 0.284496736) * (1.0 / (1.0 + 0.3275911 * ({z})))"
            " + 0.254829592) * (1.0 / (1.0 + 0.3275911 * ({z})))"
            " * EXP(-(({z}) * ({z})))))")


def _two_sided_p_fmt(t_expr: str) -> str:
    """p = 2·(1 − Φ(|t|)) = 1 − erf(|t|/√2), via the shared erf string."""
    z = f"(ABS({t_expr}) / 1.4142135623730951)"
    return f"(1.0 - {_ERF_FMT.format(z=z)})"


def group_vs_rest_ttest(df: DataFrame, group_col: str, value_col: str
                        ) -> DataFrame:
    """For EVERY group simultaneously: Welch's t of the group's values
    against the rest of the corpus, with the large-n normal two-sided
    p — the screening stage that feeds `bh_adjust`. One hash agg to
    per-group (n, Σv, Σv²), global moments by a window over the group
    table, k rows out. The p-value uses the A&S 7.1.26 erf polynomial
    (|err| < 1.5e-7) rendered identically into both engines.
    """
    g = (df.select(F.col(group_col).alias("grp"),
                   F.col(value_col).alias("v"))
         .filter(F.col("v").isNotNull() & F.col("grp").isNotNull())
         .groupBy("grp")
         .agg(F.count("*").cast("double").alias("n"),
              F.sum("v").alias("s"),
              F.sum(F.col("v") * F.col("v")).alias("s2")))
    wall = Window.partitionBy()
    g = (g.withColumn("tn", F.sum("n").over(wall))
         .withColumn("ts", F.sum("s").over(wall))
         .withColumn("ts2", F.sum("s2").over(wall)))
    nr = F.col("tn") - F.col("n")
    sr = F.col("ts") - F.col("s")
    qr = F.col("ts2") - F.col("s2")
    m1 = F.col("s") / F.col("n")
    mr = sr / nr
    v1 = (F.col("s2") / F.col("n") - m1 * m1) \
        * (F.col("n") / (F.col("n") - 1.0))
    vr = (qr / nr - mr * mr) * (nr / (nr - 1.0))
    se2 = v1 / F.col("n") + vr / nr
    t = (m1 - mr) / F.sqrt(se2)
    out = g.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n"),
        _r6(m1).alias("mean"),
        _r6(mr).alias("mean_rest"),
        _r6(t).alias("t"))
    # p from the ROUNDED t so both engines feed the erf polynomial the
    # identical double — the statistic, not the p, is the precise output
    return out.withColumn(
        "p_approx", _r6(F.expr(_two_sided_p_fmt("t"))))


def group_vs_rest_ttest_sql(table: str, group_col: str, value_col: str
                            ) -> str:
    p = _two_sided_p_fmt("t")
    return f"""
WITH gvr0 AS (
  SELECT {group_col} AS grp, CAST(COUNT(*) AS DOUBLE) AS n,
         SUM({value_col}) AS s,
         SUM({value_col} * {value_col}) AS s2
  FROM {table}
  WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL
  GROUP BY 1
),
gvr1 AS (
  SELECT *, SUM(n) OVER () AS tn, SUM(s) OVER () AS ts,
         SUM(s2) OVER () AS ts2
  FROM gvr0
),
gvr2 AS (
  SELECT grp, n, s / n AS m1, (ts - s) / (tn - n) AS mr,
         (s2 / n - (s / n) * (s / n)) * (n / (n - 1.0)) AS v1,
         ((ts2 - s2) / (tn - n) - ((ts - s) / (tn - n))
          * ((ts - s) / (tn - n))) * ((tn - n) / (tn - n - 1.0)) AS vr,
         tn - n AS nr
  FROM gvr1
),
gvr3 AS (
  SELECT grp AS {group_col}, CAST(n AS BIGINT) AS n,
         ROUND(m1, 6) + 0.0 AS mean,
         ROUND(mr, 6) + 0.0 AS mean_rest,
         ROUND((m1 - mr) / SQRT(v1 / n + vr / nr), 6) + 0.0 AS t
  FROM gvr2
)
SELECT *, ROUND({p}, 6) + 0.0 AS p_approx FROM gvr3
"""


def bh_adjust(df: DataFrame, key_col: str, p_col: str = "p_approx") -> DataFrame:
    """Benjamini-Hochberg step-up FDR adjustment over a table of
    per-test p-values (one row per test): rank ascending by p (key as
    the deterministic tie-break), raw_i = p_(i)·m/i, adjusted p = the
    running minimum of raw from the largest rank down, capped at 1,
    ``rejected`` = adjusted ≤ 0.05. The input is already
    test-cardinality (k rows), so the two windows here sort k rows —
    the fact stream was reduced by whatever screening test produced p.
    """
    wall = Window.partitionBy()
    # NULLS LAST explicitly: Spark's ASC default is nulls-first while
    # DuckDB's is nulls-last — an undefined p (degenerate group) must
    # rank identically in both engines
    wr = Window.orderBy(F.col(p_col).asc_nulls_last(),
                        F.col(key_col).asc())
    wmin = (Window.orderBy(F.col("rank").desc())
            .rowsBetween(Window.unboundedPreceding, 0))
    g = (df.withColumn("m", F.count("*").over(wall))
         .withColumn("rank", F.row_number().over(wr))
         .withColumn("raw", F.col(p_col) * F.col("m") / F.col("rank")))
    out = g.withColumn("p_adj", F.least(F.min("raw").over(wmin),
                                        F.lit(1.0)))
    return (out.select(
        F.col(key_col),
        F.col(p_col),
        F.col("rank").cast("long").alias("rank"),
        _r6(F.col("p_adj")).alias("p_adj"),
        F.when(_r6(F.col("p_adj")) <= 0.05, 1).otherwise(0)
        .alias("rejected")))


def bh_adjust_sql(inner_sql: str, key_col: str, p_col: str = "p_approx",
                  alpha: float = 0.05) -> str:
    """DuckDB oracle over any inner query emitting (key, p)."""
    return f"""
WITH bhin AS ({inner_sql}),
bhr AS (
  SELECT {key_col}, {p_col},
         COUNT(*) OVER () AS m,
         ROW_NUMBER() OVER (ORDER BY {p_col} ASC NULLS LAST,
                            {key_col} ASC) AS rank
  FROM bhin
),
bha AS (
  SELECT {key_col}, {p_col}, rank,
         LEAST(MIN({p_col} * m / rank) OVER (ORDER BY rank DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
           AS p_adj
  FROM bhr
)
SELECT {key_col}, {p_col}, CAST(rank AS BIGINT) AS rank,
       ROUND(p_adj, 6) + 0.0 AS p_adj,
       CASE WHEN ROUND(p_adj, 6) + 0.0 <= {alpha!r} THEN 1 ELSE 0 END
         AS rejected
FROM bha
"""


# ---------------------------------------------------------------------------
# One-pass deterministic Poisson bootstrap for a mean
# ---------------------------------------------------------------------------

_LCG_M = 2147483647          # 2^31 − 1 (Mersenne prime)
_LCG_A = 48271               # MINSTD multiplier
_LCG_R = 69621               # replicate mixing multiplier

# Poisson(1) inverse-CDF thresholds: cumulative e^{-1}·Σ 1/k!
_POIS_CUM = (0.36787944117144233, 0.7357588823428847,
             0.9196986029286058, 0.9810118431238462,
             0.9963401531726563, 0.9994058151824183,
             0.9999167588507119, 0.999989750803325)


def _pois_fmt(u_expr: str) -> str:
    """CASE chain mapping a uniform in [0,1) to Poisson(1) — shared
    formula string; weights > 8 (P ≈ 1e-6) are clamped to 8."""
    whens = " ".join(
        f"WHEN ({u_expr}) < {c!r} THEN {k}.0"
        for k, c in enumerate(_POIS_CUM))
    return f"(CASE {whens} ELSE 8.0 END)"


def _boot_u_fmt(key_expr: str, rep_expr: str, seed: int) -> str:
    """Uniform in [0,1) from a portable modular hash of (key, replicate):
    THREE chained MINSTD multiplicative steps — a single multiply mod M
    does not wrap the modulus for small consecutive keys (k·A < M for
    k < 44486), which leaves u confined to a sliver and starves whole
    replicates of weight; after the second multiply every key has
    wrapped many times. Pure 64-bit-safe integer arithmetic both
    engines share — every intermediate < 2^47."""
    s0 = f"((({key_expr}) + {seed}) % {_LCG_M})"
    s1 = f"(({s0} * {_LCG_A}) % {_LCG_M})"
    s2 = f"((({s1} + ({rep_expr}) * {_LCG_R}) * {_LCG_A}) % {_LCG_M})"
    s3 = f"(({s2} * {_LCG_A}) % {_LCG_M})"
    return f"((CAST({s3} AS DOUBLE) + 0.5) / {_LCG_M}.0)"


def poisson_bootstrap_mean(df: DataFrame, value_col: str,
                           key_expr: str, n_boot: int = 64
                           ) -> DataFrame:
    """Bootstrap confidence interval for the corpus mean in ONE pass:
    each row enters replicate r with weight ~ Poisson(1) drawn
    deterministically from a portable modular hash of (key, r, 1787) —
    the streaming bootstrap (Poisson approximation to multinomial
    resampling, exact as n → ∞), so the CI is bit-stable across runs,
    partitionings, and cluster sizes.

    Shape: rows explode ×n_boot, but the per-replicate (Σw, Σwv)
    partials combine map-side, so the single shuffle carries
    O(n_boot × tasks) rows, not O(n_boot × n). The replicate means
    (n_boot of them) then fold to one row: exact point mean, bootstrap
    mean, the bootstrap SE (stddev of replicate means), and the
    95% percentile CI (linear interpolation, identical in both engines).
    """
    lo_q, hi_q = (1.0 - 0.95) / 2.0, 1.0 - (1.0 - 0.95) / 2.0
    w = _pois_fmt(_boot_u_fmt("k", "r", 1787))
    rep = (df.select(F.expr(key_expr).alias("k"),
                     F.col(value_col).alias("v"))
           .filter(F.col("v").isNotNull())
           .select("k", "v",
                   F.explode(F.sequence(
                       F.lit(0), F.lit(n_boot - 1))).alias("r"))
           .withColumn("w", F.expr(w).cast("double"))
           .groupBy("r")
           .agg(F.sum("w").alias("sw"),
                F.sum(F.col("w") * F.col("v")).alias("swv"),
                F.sum(F.when(F.col("r") == 0, 1.0).otherwise(0.0))
                .alias("cnt"),
                F.sum(F.when(F.col("r") == 0, F.col("v"))
                      .otherwise(0.0)).alias("sv")))
    means = rep.select(
        (F.col("swv") / F.col("sw")).alias("bm"),
        F.col("cnt").alias("cnt"), F.col("sv").alias("sv"))
    agg = means.agg(
        F.sum("cnt").alias("n"),
        (F.sum("sv") / F.sum("cnt")).alias("point_mean"),
        F.avg("bm").alias("boot_mean"),
        F.stddev_samp("bm").alias("se"),
        F.percentile(F.col("bm"), F.lit(lo_q)).alias("ci_lo"),
        F.percentile(F.col("bm"), F.lit(hi_q)).alias("ci_hi"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.lit(n_boot).alias("n_boot"),
        _r6(F.col("point_mean")).alias("point_mean"),
        _r6(F.col("boot_mean")).alias("boot_mean"),
        _r6(F.col("se")).alias("se"),
        _r6(F.col("ci_lo")).alias("ci_lo"),
        _r6(F.col("ci_hi")).alias("ci_hi"))


def poisson_bootstrap_mean_sql(table: str, value_col: str,
                               key_expr: str, n_boot: int = 64,
                               seed: int = 1787, ci: float = 0.95
                               ) -> str:
    lo_q, hi_q = (1.0 - ci) / 2.0, 1.0 - (1.0 - ci) / 2.0
    w = _pois_fmt(_boot_u_fmt("k", "r", seed))
    return f"""
WITH pbx AS (
  SELECT {key_expr} AS k, {value_col} AS v, r
  FROM {table}, (SELECT UNNEST(generate_series(0, {n_boot - 1})) AS r)
  WHERE {value_col} IS NOT NULL
),
pbr AS (
  SELECT r, SUM({w}) AS sw,
         SUM({w} * v) AS swv,
         SUM(CASE WHEN r = 0 THEN 1.0 ELSE 0.0 END) AS cnt,
         SUM(CASE WHEN r = 0 THEN v ELSE 0.0 END) AS sv
  FROM pbx GROUP BY r
),
pbm AS (SELECT swv / sw AS bm, cnt, sv FROM pbr),
pba AS (
  SELECT SUM(cnt) AS n, SUM(sv) / SUM(cnt) AS point_mean,
         AVG(bm) AS boot_mean, STDDEV_SAMP(bm) AS se,
         quantile_cont(bm, {lo_q!r}) AS ci_lo,
         quantile_cont(bm, {hi_q!r}) AS ci_hi
  FROM pbm
)
SELECT CAST(n AS BIGINT) AS n, {n_boot} AS n_boot,
       ROUND(point_mean, 6) + 0.0 AS point_mean,
       ROUND(boot_mean, 6) + 0.0 AS boot_mean,
       ROUND(se, 6) + 0.0 AS se,
       ROUND(ci_lo, 6) + 0.0 AS ci_lo,
       ROUND(ci_hi, 6) + 0.0 AS ci_hi
FROM pba
"""


# ---------------------------------------------------------------------------
# Average precision (area under the PR curve, step-interpolated)
# ---------------------------------------------------------------------------

def average_precision(df: DataFrame, label_expr: str, score_expr: str
                      ) -> DataFrame:
    """Average precision ``AP = Σ_k (R_k − R_{k−1})·P_k`` over the
    descending distinct-score thresholds (the step interpolation —
    never the optimistic trapezoid, which overstates AP on skewed
    corpora). Each distinct score is one threshold, so a tie group
    enters as a single PR point, exactly as a ranked retrieval would
    release it.

    Shape: the same distinct-score histogram as `roc_auc`, one
    descending cumulative window over the alphabet, a 1-row fold.
    """
    from satellitetools_spark.operators.cumsum import prefix_sums
    h = (df.select(F.expr(label_expr).cast("int").alias("y"),
                   F.expr(score_expr).alias("s"))
         .filter(F.col("s").isNotNull() & F.col("y").isNotNull())
         .groupBy("s")
         .agg(F.count("*").cast("double").alias("cn"),
              F.sum(F.col("y").cast("double")).alias("cp")))
    # two-level descending cumulatives over the score alphabet (see
    # cumsum.prefix_sums) — label counts are integral, so bit-exact
    cum, tot = prefix_sums(h, [F.col("s").desc()], ["cp", "cn"],
                           return_totals=True)
    cum = (cum.withColumnRenamed("cum_cp", "tp")
           .withColumnRenamed("cum_cn", "nn")
           .withColumn("npos", F.lit(tot["cp"]))
           .withColumn("n", F.lit(tot["cn"])))
    # ΔR·P per threshold: (cp/npos) · (tp/nn)
    agg = cum.agg(
        F.max("n").alias("n"), F.max("npos").alias("npos"),
        F.sum((F.col("cp") / F.col("npos"))
              * (F.col("tp") / F.col("nn"))).alias("ap"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("npos").cast("long").alias("n_pos"),
        _r6(F.col("ap")).alias("ap"),
        # the no-skill baseline AP equals prevalence
        _r6(F.col("npos") / F.col("n")).alias("prevalence"))


def average_precision_sql(table: str, label_expr: str, score_expr: str
                          ) -> str:
    return f"""
WITH aph AS (
  SELECT {score_expr} AS s, CAST(COUNT(*) AS DOUBLE) AS cn,
         SUM(CAST(CAST({label_expr} AS INT) AS DOUBLE)) AS cp
  FROM {table}
  WHERE ({score_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL
  GROUP BY 1
),
apc AS (
  SELECT cn, cp,
         SUM(cp) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS tp,
         SUM(cn) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS nn,
         SUM(cp) OVER () AS npos, SUM(cn) OVER () AS n
  FROM aph
)
SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(npos) AS BIGINT) AS n_pos,
       ROUND(SUM((cp / npos) * (tp / nn)), 6) + 0.0 AS ap,
       ROUND(MAX(npos) / MAX(n), 6) + 0.0 AS prevalence
FROM apc
"""


# ---------------------------------------------------------------------------
# Confusion matrix at a threshold + F1 / MCC
# ---------------------------------------------------------------------------

def confusion_at_threshold(df: DataFrame, label_expr: str,
                           score_expr: str) -> DataFrame:
    """Confusion counts at ``score ≥ 0.5`` plus the derived
    single-number summaries: accuracy, precision, recall, F1, and the
    Matthews correlation coefficient (the balanced summary that stays
    honest under class skew — a 99%-negative corpus scores MCC ≈ 0 for
    the always-negative classifier that gets 0.99 accuracy).

    ONE conditional hash agg over the facts; counts are integer-exact,
    MCC's 4-way product is folded in doubles to dodge BIGINT overflow
    at corpus scale.
    """
    y = F.expr(label_expr).cast("int")
    p = (F.expr(score_expr) >= F.lit(0.5)).cast("int")
    base = (df.select(y.alias("y"), p.alias("p"))
            .filter(F.col("y").isNotNull() & F.col("p").isNotNull()))
    agg = base.agg(
        F.sum(((F.col("y") == 1) & (F.col("p") == 1)).cast("double"))
        .alias("tp"),
        F.sum(((F.col("y") == 0) & (F.col("p") == 1)).cast("double"))
        .alias("fp"),
        F.sum(((F.col("y") == 1) & (F.col("p") == 0)).cast("double"))
        .alias("fn"),
        F.sum(((F.col("y") == 0) & (F.col("p") == 0)).cast("double"))
        .alias("tn"))
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    n = tp + fp + fn + tn
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    mcc_den = F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    mcc = F.when(mcc_den > 0, (tp * tn - fp * fn) / mcc_den) \
        .otherwise(F.lit(0.0))
    return agg.select(
        tp.cast("long").alias("tp"), fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"), tn.cast("long").alias("tn"),
        _r6((tp + tn) / n).alias("accuracy"),
        _r6(prec).alias("precision"),
        _r6(rec).alias("recall"),
        _r6(2.0 * prec * rec / (prec + rec)).alias("f1"),
        _r6(mcc).alias("mcc"))


def confusion_at_threshold_sql(table: str, label_expr: str,
                               score_expr: str, threshold: float = 0.5
                               ) -> str:
    return f"""
WITH cmb AS (
  SELECT CAST({label_expr} AS INT) AS y,
         CAST({score_expr} >= {threshold!r} AS INT) AS p
  FROM {table}
  WHERE ({label_expr}) IS NOT NULL AND ({score_expr}) IS NOT NULL
),
cma AS (
  SELECT SUM(CASE WHEN y = 1 AND p = 1 THEN 1.0 ELSE 0.0 END) AS tp,
         SUM(CASE WHEN y = 0 AND p = 1 THEN 1.0 ELSE 0.0 END) AS fp,
         SUM(CASE WHEN y = 1 AND p = 0 THEN 1.0 ELSE 0.0 END) AS fn,
         SUM(CASE WHEN y = 0 AND p = 0 THEN 1.0 ELSE 0.0 END) AS tn
  FROM cmb
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       ROUND((tp + tn) / (tp + fp + fn + tn), 6) + 0.0 AS accuracy,
       ROUND(tp / (tp + fp), 6) + 0.0 AS precision,
       ROUND(tp / (tp + fn), 6) + 0.0 AS recall,
       ROUND(2.0 * (tp / (tp + fp)) * (tp / (tp + fn))
             / (tp / (tp + fp) + tp / (tp + fn)), 6) + 0.0 AS f1,
       ROUND(CASE WHEN SQRT((tp + fp) * (tp + fn) * (tn + fp)
                            * (tn + fn)) > 0
             THEN (tp * tn - fp * fn)
                  / SQRT((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
             ELSE 0.0 END, 6) + 0.0 AS mcc
FROM cma
"""


# ---------------------------------------------------------------------------
# Cohen's kappa (inter-annotator agreement)
# ---------------------------------------------------------------------------

def cohens_kappa(df: DataFrame, a_expr: str, b_expr: str) -> DataFrame:
    """Cohen's κ between two categorical labelings (annotator A vs B,
    or model vs gold): ``κ = (p_o − p_e)/(1 − p_e)`` with chance
    agreement p_e = Σ_k p_A(k)·p_B(k) — the raw-agreement correction a
    labeling-quality audit needs before trusting crowd labels. Same
    joint-histogram shape as `mutual_information`; the diagonal is the
    cells where the two expressions coincide.
    """
    j = (df.select(F.expr(a_expr).alias("a"), F.expr(b_expr).alias("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
         .groupBy("a", "b").agg(F.count("*").cast("double").alias("c")))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    g = (j.withColumn("ca", F.sum("c").over(wa))
         .withColumn("cb", F.sum("c").over(wb))
         .withColumn("n", F.sum("c").over(wall)))
    # p_e = Σ_k p_A(k) p_B(k): spread each (k,k) product over the cells
    # of its row so one fold computes it — c/ca · (ca/n)(cb/n) summed
    # over a row's cells gives (ca·cb)/n² once per present row-pair;
    # simpler and exact: sum over DISTINCT diagonal categories via the
    # per-cell identity below (cells with a=b carry their own marginals)
    agg = g.agg(
        F.max("n").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c"))
              .otherwise(0.0)).alias("agree"),
        F.sum(F.when(F.col("a") == F.col("b"),
                     F.col("ca") * F.col("cb"))
              .otherwise(0.0)).alias("pe_num"))
    po = F.col("agree") / F.col("n")
    pe = F.col("pe_num") / (F.col("n") * F.col("n"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        _r6(po).alias("p_observed"),
        _r6(pe).alias("p_chance"),
        _r6((po - pe) / (1.0 - pe)).alias("kappa"))


def cohens_kappa_sql(table: str, a_expr: str, b_expr: str) -> str:
    return f"""
WITH ckj AS (
  SELECT {a_expr} AS a, {b_expr} AS b, CAST(COUNT(*) AS DOUBLE) AS c
  FROM {table}
  WHERE ({a_expr}) IS NOT NULL AND ({b_expr}) IS NOT NULL
  GROUP BY 1, 2
),
ckg AS (
  SELECT a, b, c, SUM(c) OVER (PARTITION BY a) AS ca,
         SUM(c) OVER (PARTITION BY b) AS cb,
         SUM(c) OVER () AS n
  FROM ckj
),
cka AS (
  SELECT MAX(n) AS n,
         SUM(CASE WHEN a = b THEN c ELSE 0.0 END) AS agree,
         SUM(CASE WHEN a = b THEN ca * cb ELSE 0.0 END) AS pe_num
  FROM ckg
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(agree / n, 6) + 0.0 AS p_observed,
       ROUND(pe_num / (n * n), 6) + 0.0 AS p_chance,
       ROUND((agree / n - pe_num / (n * n))
             / (1.0 - pe_num / (n * n)), 6) + 0.0 AS kappa
FROM cka
"""


# ---------------------------------------------------------------------------
# Kendall's tau-b (ordinal association, tie-corrected)
# ---------------------------------------------------------------------------

def kendall_tau_b(df: DataFrame, x_expr: str, y_expr: str,
                  max_cells: int = 100_000) -> DataFrame:
    """Kendall's τ-b between two ORDINAL expressions:
    ``τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂))`` with concordant C,
    discordant D, n₀ = n(n−1)/2, and the x-/y-tie corrections n₁/n₂ —
    the rank correlation whose tie handling Spearman lacks.

    Shape: the naive statistic is O(n²) over facts; here the facts
    collapse to the (x, y) joint histogram (|X|·|Y| cells) and C/D are
    pair-counted over the CELL table's self-join restricted to x₁ < x₂
    — O(cells²) work, independent of n. The inputs MUST be
    bounded-alphabet ordinals (hour-of-day, a binned measure, a
    rating); a continuous double must be pre-binned first, as the rank
    tests in `inference.py` document. This is ENFORCED: the cell count
    is probed before planning the quadratic join and the call fails
    fast beyond ``max_cells`` rather than letting a nested-loop join
    run at an unbounded alphabet.
    """
    j = (df.select(F.expr(x_expr).alias("x"), F.expr(y_expr).alias("y"))
         .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
         .groupBy("x", "y").agg(F.count("*").cast("double").alias("c"))
         .localCheckpoint(eager=False))
    # HARD bounded-alphabet guard: the x1 < x2 cell join below is a
    # broadcast-nested-loop theta join, O(cells²). For ordinals and
    # binned measures cells is tiny; for a continuous double it
    # approaches row count and the join must never be allowed to run.
    # The checkpoint pins the cell table so this probe (cell-, not
    # row-cardinality) is not a second fact-stream scan.
    n_cells = j.count()
    if n_cells > int(max_cells):
        raise ValueError(
            f"kendall_tau_b: {n_cells} distinct (x, y) cells exceeds "
            f"max_cells={max_cells}; the concordance join is O(cells²)."
            " Pre-bin the continuous input (e.g. FLOOR(x / width)) or"
            " raise max_cells deliberately.")
    left = j.select(F.col("x").alias("x1"), F.col("y").alias("y1"),
                    F.col("c").alias("c1"))
    right = j.select(F.col("x").alias("x2"), F.col("y").alias("y2"),
                     F.col("c").alias("c2"))
    pairs = left.join(right, F.col("x1") < F.col("x2"))
    cd = pairs.agg(
        F.sum(F.when(F.col("y1") < F.col("y2"),
                     F.col("c1") * F.col("c2")).otherwise(0.0))
        .alias("conc"),
        F.sum(F.when(F.col("y1") > F.col("y2"),
                     F.col("c1") * F.col("c2")).otherwise(0.0))
        .alias("disc"))
    # tie sums from the marginal windows: Σ t(t−1)/2 per distinct value;
    # cells within one x share cx, so divide the row-sum by the row's
    # cell count — cleaner: aggregate marginals separately
    tx = (j.groupBy("x").agg(F.sum("c").alias("t"))
          .agg(F.sum(F.col("t") * (F.col("t") - 1.0) / 2.0).alias("n1"),
               F.sum(F.col("t")).alias("nn")))
    ty = (j.groupBy("y").agg(F.sum("c").alias("t"))
          .agg(F.sum(F.col("t") * (F.col("t") - 1.0) / 2.0).alias("n2")))
    out = cd.crossJoin(tx).crossJoin(ty)
    n0 = F.col("nn") * (F.col("nn") - 1.0) / 2.0
    tau = ((F.col("conc") - F.col("disc"))
           / F.sqrt((n0 - F.col("n1")) * (n0 - F.col("n2"))))
    return out.select(
        F.col("nn").cast("long").alias("n"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        _r6(tau).alias("tau_b"))


def kendall_tau_b_sql(table: str, x_expr: str, y_expr: str) -> str:
    return f"""
WITH ktj AS (
  SELECT {x_expr} AS x, {y_expr} AS y, CAST(COUNT(*) AS DOUBLE) AS c
  FROM {table}
  WHERE ({x_expr}) IS NOT NULL AND ({y_expr}) IS NOT NULL
  GROUP BY 1, 2
),
ktcd AS (
  SELECT SUM(CASE WHEN l.y < r.y THEN l.c * r.c ELSE 0.0 END) AS conc,
         SUM(CASE WHEN l.y > r.y THEN l.c * r.c ELSE 0.0 END) AS disc
  FROM ktj l JOIN ktj r ON l.x < r.x
),
ktx AS (
  SELECT SUM(t * (t - 1.0) / 2.0) AS n1, SUM(t) AS nn
  FROM (SELECT SUM(c) AS t FROM ktj GROUP BY x)
),
kty AS (
  SELECT SUM(t * (t - 1.0) / 2.0) AS n2
  FROM (SELECT SUM(c) AS t FROM ktj GROUP BY y)
)
SELECT CAST(nn AS BIGINT) AS n,
       CAST(conc AS BIGINT) AS concordant,
       CAST(disc AS BIGINT) AS discordant,
       ROUND((conc - disc) / SQRT((nn * (nn - 1.0) / 2.0 - n1)
             * (nn * (nn - 1.0) / 2.0 - n2)), 6) + 0.0 AS tau_b
FROM ktcd, ktx, kty
"""


# ---------------------------------------------------------------------------
# Weight of Evidence / Information Value per category
# ---------------------------------------------------------------------------

def woe_iv(df: DataFrame, label_expr: str, cat_expr: str) -> DataFrame:
    """Weight of Evidence per category of ``cat_expr`` against the
    binary ``label_expr`` — ``WoE = ln(p_cat|pos / p_cat|neg)`` with
    Laplace smoothing 0.5 on both numerators (a category seen only among
    positives must not emit ±∞) — plus each category's Information
    Value contribution; Σ iv over the output is the feature's total IV
    (the credit-scoring screening number: <0.02 useless, >0.3 strong).

    One category-histogram agg, totals by a window over the category
    table, |categories| rows out.
    """
    h = (df.select(F.expr(label_expr).cast("int").alias("y"),
                   F.expr(cat_expr).alias("k"))
         .filter(F.col("k").isNotNull() & F.col("y").isNotNull())
         .groupBy("k")
         .agg(F.sum(F.when(F.col("y") == 1, 1.0).otherwise(0.0))
              .alias("pos"),
              F.sum(F.when(F.col("y") == 0, 1.0).otherwise(0.0))
              .alias("neg")))
    wall = Window.partitionBy()
    kk = F.count("*").over(wall).cast("double")
    g = (h.withColumn("tp", F.sum("pos").over(wall))
         .withColumn("tn", F.sum("neg").over(wall))
         .withColumn("kk", kk))
    # smoothed conditional shares (denominator balanced so they sum to 1)
    pp = (F.col("pos") + 0.5) / (F.col("tp") + 0.5 * F.col("kk"))
    pn = (F.col("neg") + 0.5) / (F.col("tn") + 0.5 * F.col("kk"))
    woe = F.log(pp / pn)
    return g.select(
        F.col("k").alias("category"),
        F.col("pos").cast("long").alias("n_pos"),
        F.col("neg").cast("long").alias("n_neg"),
        _r6(woe).alias("woe"),
        _r6((pp - pn) * woe).alias("iv"))


def woe_iv_sql(table: str, label_expr: str, cat_expr: str,
               smooth: float = 0.5) -> str:
    return f"""
WITH wih AS (
  SELECT {cat_expr} AS k,
         SUM(CASE WHEN CAST({label_expr} AS INT) = 1
             THEN 1.0 ELSE 0.0 END) AS pos,
         SUM(CASE WHEN CAST({label_expr} AS INT) = 0
             THEN 1.0 ELSE 0.0 END) AS neg
  FROM {table}
  WHERE ({cat_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL
  GROUP BY 1
),
wig AS (
  SELECT k, pos, neg, SUM(pos) OVER () AS tp, SUM(neg) OVER () AS tn,
         CAST(COUNT(*) OVER () AS DOUBLE) AS kk
  FROM wih
)
SELECT k AS category, CAST(pos AS BIGINT) AS n_pos,
       CAST(neg AS BIGINT) AS n_neg,
       ROUND(LN(((pos + {smooth!r}) / (tp + {smooth!r} * kk))
             / ((neg + {smooth!r}) / (tn + {smooth!r} * kk))), 6) + 0.0
         AS woe,
       ROUND(((pos + {smooth!r}) / (tp + {smooth!r} * kk)
              - (neg + {smooth!r}) / (tn + {smooth!r} * kk))
             * LN(((pos + {smooth!r}) / (tp + {smooth!r} * kk))
                  / ((neg + {smooth!r}) / (tn + {smooth!r} * kk))), 6)
         + 0.0 AS iv
FROM wig
"""


# ---------------------------------------------------------------------------
# Group-fairness report
# ---------------------------------------------------------------------------

def fairness_report(df: DataFrame, label_expr: str, pred_expr: str,
                    group_expr: str) -> DataFrame:
    """Per-group classification-fairness rates against a binary
    prediction: selection rate P(ŷ=1 | g) (demographic parity),
    TPR P(ŷ=1 | y=1, g) (equal opportunity), FPR P(ŷ=1 | y=0, g),
    each with its gap to the OVERALL rate — the audit table a
    data-curation pipeline emits before a filter model ships (is the
    quality classifier throttling one source/language?).

    ONE conditional hash agg per group + overall rates by a window over
    the group table; |groups| rows out. A group with no positives
    reports NULL tpr (ANSI division), not a fake 0.
    """
    base = (df.select(F.expr(group_expr).alias("g"),
                      F.expr(label_expr).cast("int").alias("y"),
                      F.expr(pred_expr).cast("int").alias("p"))
            .filter(F.col("g").isNotNull() & F.col("y").isNotNull()
                    & F.col("p").isNotNull()))
    h = (base.groupBy("g")
         .agg(F.count("*").cast("double").alias("n"),
              F.sum(F.col("p").cast("double")).alias("sel"),
              F.sum(((F.col("y") == 1) & (F.col("p") == 1))
                    .cast("double")).alias("tp"),
              F.sum((F.col("y") == 1).cast("double")).alias("pos"),
              F.sum(((F.col("y") == 0) & (F.col("p") == 1))
                    .cast("double")).alias("fpp")))
    wall = Window.partitionBy()
    g = (h.withColumn("tn_", F.sum("n").over(wall))
         .withColumn("tsel", F.sum("sel").over(wall))
         .withColumn("ttp", F.sum("tp").over(wall))
         .withColumn("tpos", F.sum("pos").over(wall))
         .withColumn("tfpp", F.sum("fpp").over(wall)))
    sel = F.col("sel") / F.col("n")
    tpr = F.col("tp") / F.col("pos")
    fpr = F.col("fpp") / (F.col("n") - F.col("pos"))
    osel = F.col("tsel") / F.col("tn_")
    otpr = F.col("ttp") / F.col("tpos")
    ofpr = F.col("tfpp") / (F.col("tn_") - F.col("tpos"))
    return g.select(
        F.col("g").alias("grp"),
        F.col("n").cast("long").alias("n"),
        _r6(sel).alias("selection_rate"),
        _r6(sel - osel).alias("parity_gap"),
        _r6(tpr).alias("tpr"),
        _r6(tpr - otpr).alias("tpr_gap"),
        _r6(fpr).alias("fpr"),
        _r6(fpr - ofpr).alias("fpr_gap"))


def fairness_report_sql(table: str, label_expr: str, pred_expr: str,
                        group_expr: str) -> str:
    return f"""
WITH frb AS (
  SELECT {group_expr} AS g, CAST({label_expr} AS INT) AS y,
         CAST({pred_expr} AS INT) AS p
  FROM {table}
  WHERE ({group_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL
    AND ({pred_expr}) IS NOT NULL
),
frh AS (
  SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(CAST(p AS DOUBLE)) AS sel,
         SUM(CASE WHEN y = 1 AND p = 1 THEN 1.0 ELSE 0.0 END) AS tp,
         SUM(CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END) AS pos,
         SUM(CASE WHEN y = 0 AND p = 1 THEN 1.0 ELSE 0.0 END) AS fpp
  FROM frb GROUP BY g
),
frg AS (
  SELECT *, SUM(n) OVER () AS tn_, SUM(sel) OVER () AS tsel,
         SUM(tp) OVER () AS ttp, SUM(pos) OVER () AS tpos,
         SUM(fpp) OVER () AS tfpp
  FROM frh
)
SELECT g AS grp, CAST(n AS BIGINT) AS n,
       ROUND(sel / n, 6) + 0.0 AS selection_rate,
       ROUND(sel / n - tsel / tn_, 6) + 0.0 AS parity_gap,
       ROUND(tp / pos, 6) + 0.0 AS tpr,
       ROUND(tp / pos - ttp / tpos, 6) + 0.0 AS tpr_gap,
       ROUND(fpp / (n - pos), 6) + 0.0 AS fpr,
       ROUND(fpp / (n - pos) - tfpp / (tn_ - tpos), 6) + 0.0 AS fpr_gap
FROM frg
"""


# ---------------------------------------------------------------------------
# Split-conformal prediction interval
# ---------------------------------------------------------------------------

def conformal_interval(df: DataFrame, pred_expr: str, actual_expr: str,
                       calib_expr: str) -> DataFrame:
    """Split-conformal calibration: on the calibration slice
    (``calib_expr`` true — typically a hash split, so membership is
    deterministic), take the ⌈(n+1)(1−α)⌉-th smallest absolute
    residual as the half-width q̂ (α = 0.1); the guarantee is
    P(|y − ŷ| ≤ q̂) ≥ 1 − α on exchangeable test rows, distribution-
    free. Reports q̂, both split sizes, and the EMPIRICAL coverage of
    ±q̂ on the non-calibration slice — the check that the guarantee
    survived whatever drift the split hides.

    Shape: q̂ is an exact order statistic read from the distinct-
    residual histogram (one agg + one cumulative window at alphabet
    size, as every rank construction here); coverage is a second
    conditional fold over the same residual stream. No raw-row sort.
    """
    base = (df.select(
        F.abs(F.expr(actual_expr) - F.expr(pred_expr)).alias("r"),
        F.expr(calib_expr).cast("boolean").alias("is_cal"))
        .filter(F.col("r").isNotNull()))
    h = (base.groupBy("r")
         .agg(F.sum(F.when(F.col("is_cal"), 1.0).otherwise(0.0))
              .alias("cc"),
              F.sum(F.when(~F.col("is_cal"), 1.0).otherwise(0.0))
              .alias("ct")))
    # two-level scan over the residual alphabet (cumsum.prefix_sums);
    # the calibration count comes back from the same partials
    from satellitetools_spark.operators.cumsum import prefix_sums
    cum, tot = prefix_sums(h, [F.col("r").asc()], ["cc"],
                           return_totals=True)
    cum = (cum.withColumnRenamed("cum_cc", "cum")
           .withColumn("nc", F.lit(tot["cc"])))
    # rank of the conformal quantile: k = ceil((n+1)(1-α)), capped
    k = F.least(F.ceil((F.col("nc") + 1.0) * F.lit(1.0 - 0.1)), F.col("nc"))
    qhat = cum.filter(F.col("cum") >= k).agg(F.min("r").alias("qhat"))
    cov = (base.crossJoin(F.broadcast(qhat))
           .agg(F.max("qhat").alias("qhat"),
                F.sum(F.when(F.col("is_cal"), 1.0).otherwise(0.0))
                .alias("n_calib"),
                F.sum(F.when(~F.col("is_cal"), 1.0).otherwise(0.0))
                .alias("n_test"),
                F.sum(F.when((~F.col("is_cal"))
                             & (F.col("r") <= F.col("qhat")), 1.0)
                      .otherwise(0.0)).alias("covered")))
    return cov.select(
        F.col("n_calib").cast("long").alias("n_calib"),
        F.col("n_test").cast("long").alias("n_test"),
        _r6(F.col("qhat")).alias("qhat"),
        _r6(F.col("covered") / F.col("n_test")).alias("test_coverage"))


def conformal_interval_sql(table: str, pred_expr: str, actual_expr: str,
                           calib_expr: str, alpha: float = 0.1) -> str:
    return f"""
WITH cfb AS (
  SELECT ABS(({actual_expr}) - ({pred_expr})) AS r,
         CAST({calib_expr} AS BOOLEAN) AS is_cal
  FROM {table}
  WHERE ABS(({actual_expr}) - ({pred_expr})) IS NOT NULL
),
cfh AS (
  SELECT r, SUM(CASE WHEN is_cal THEN 1.0 ELSE 0.0 END) AS cc
  FROM cfb GROUP BY r
),
cfc AS (
  SELECT r, SUM(cc) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
         SUM(cc) OVER () AS nc
  FROM cfh
),
cfq AS (
  SELECT MIN(r) AS qhat FROM cfc
  WHERE cum >= LEAST(CEIL((nc + 1.0) * {1.0 - alpha!r}), nc)
)
SELECT CAST(SUM(CASE WHEN is_cal THEN 1.0 ELSE 0.0 END) AS BIGINT)
         AS n_calib,
       CAST(SUM(CASE WHEN NOT is_cal THEN 1.0 ELSE 0.0 END) AS BIGINT)
         AS n_test,
       ROUND(MAX(qhat), 6) + 0.0 AS qhat,
       ROUND(SUM(CASE WHEN NOT is_cal AND r <= qhat
                 THEN 1.0 ELSE 0.0 END)
             / SUM(CASE WHEN NOT is_cal THEN 1.0 ELSE 0.0 END), 6)
         + 0.0 AS test_coverage
FROM cfb, cfq
"""


# ---------------------------------------------------------------------------
# McNemar's paired-decision test
# ---------------------------------------------------------------------------

def mcnemar(df: DataFrame, a_expr: str, b_expr: str) -> DataFrame:
    """McNemar's test for PAIRED binary decisions (model A vs model B
    on the same rows — the right test when comparing two filters on
    one corpus; an unpaired proportion z-test double-counts the shared
    rows): only the discordant cells matter, ``χ² = (b − c)²/(b + c)``
    with b = #(A=1,B=0), c = #(A=0,B=1); large-sample p from
    χ²₁ = z² via the shared erf polynomial. ONE conditional agg.
    """
    a = F.expr(a_expr).cast("int")
    b = F.expr(b_expr).cast("int")
    base = (df.select(a.alias("a"), b.alias("p"))
            .filter(F.col("a").isNotNull() & F.col("p").isNotNull()))
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(((F.col("a") == 1) & (F.col("p") == 0)).cast("double"))
        .alias("b10"),
        F.sum(((F.col("a") == 0) & (F.col("p") == 1)).cast("double"))
        .alias("c01"))
    chi2 = ((F.col("b10") - F.col("c01"))
            * (F.col("b10") - F.col("c01"))
            / (F.col("b10") + F.col("c01")))
    out = agg.select(
        "n",
        F.col("b10").cast("long").alias("b10"),
        F.col("c01").cast("long").alias("c01"),
        _r6(chi2).alias("chi2"))
    return out.withColumn(
        "p_approx", _r6(F.expr(_two_sided_p_fmt("SQRT(chi2)"))))


def mcnemar_sql(table: str, a_expr: str, b_expr: str) -> str:
    p = _two_sided_p_fmt("SQRT(chi2)")
    return f"""
WITH mnb AS (
  SELECT CAST({a_expr} AS INT) AS a, CAST({b_expr} AS INT) AS p
  FROM {table}
  WHERE ({a_expr}) IS NOT NULL AND ({b_expr}) IS NOT NULL
),
mna AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CASE WHEN a = 1 AND p = 0 THEN 1.0 ELSE 0.0 END) AS b10,
         SUM(CASE WHEN a = 0 AND p = 1 THEN 1.0 ELSE 0.0 END) AS c01
  FROM mnb
),
mnc AS (
  SELECT n, CAST(b10 AS BIGINT) AS b10, CAST(c01 AS BIGINT) AS c01,
         ROUND((b10 - c01) * (b10 - c01) / (b10 + c01), 6) + 0.0
           AS chi2
  FROM mna
)
SELECT *, ROUND({p}, 6) + 0.0 AS p_approx FROM mnc
"""


# ---------------------------------------------------------------------------
# Bland-Altman agreement between two paired measurements
# ---------------------------------------------------------------------------

def bland_altman(df: DataFrame, a_expr: str, b_expr: str) -> DataFrame:
    """Bland-Altman agreement readout for two paired continuous
    measurements (a model vs a gold pipeline, two sensors): mean
    difference (bias), SD of differences, the limits of agreement
    ``bias ± 1.96·sd``, and the fraction of pairs inside them — the
    method-comparison summary a correlation coefficient hides (two
    methods can correlate at 0.99 and still disagree by a constant
    offset). One moment agg + one conditional recount.
    """
    d = (F.expr(a_expr) - F.expr(b_expr))
    base = df.select(d.alias("d")).filter(F.col("d").isNotNull())
    m = base.agg(F.count("*").cast("double").alias("n"),
                 F.avg("d").alias("bias"),
                 F.stddev_samp("d").alias("sd"))
    j = base.crossJoin(F.broadcast(m))
    lo = F.col("bias") - 1.96 * F.col("sd")
    hi = F.col("bias") + 1.96 * F.col("sd")
    agg = j.agg(
        F.max("n").alias("n"), F.max("bias").alias("bias"),
        F.max("sd").alias("sd"),
        F.avg(((F.col("d") >= lo) & (F.col("d") <= hi))
              .cast("double")).alias("within"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        _r6(F.col("bias")).alias("bias"),
        _r6(F.col("sd")).alias("sd"),
        _r6(F.col("bias") - 1.96 * F.col("sd")).alias("loa_lo"),
        _r6(F.col("bias") + 1.96 * F.col("sd")).alias("loa_hi"),
        _r6(F.col("within")).alias("within_frac"))


def bland_altman_sql(table: str, a_expr: str, b_expr: str,
                     z: float = 1.96) -> str:
    return f"""
WITH bab AS (
  SELECT ({a_expr}) - ({b_expr}) AS d FROM {table}
  WHERE (({a_expr}) - ({b_expr})) IS NOT NULL
),
bam AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(d) AS bias,
         STDDEV_SAMP(d) AS sd
  FROM bab
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(bias, 6) + 0.0 AS bias,
       ROUND(sd, 6) + 0.0 AS sd,
       ROUND(bias - {float(z)!r} * sd, 6) + 0.0 AS loa_lo,
       ROUND(bias + {float(z)!r} * sd, 6) + 0.0 AS loa_hi,
       ROUND((SELECT AVG(CASE WHEN d >= bias - {float(z)!r} * sd
                          AND d <= bias + {float(z)!r} * sd
                         THEN 1.0 ELSE 0.0 END) FROM bab), 6) + 0.0
         AS within_frac
FROM bam
"""


# ---------------------------------------------------------------------------
# Hosmer-Lemeshow goodness-of-fit for probability calibration
# ---------------------------------------------------------------------------

def hosmer_lemeshow(df: DataFrame, label_expr: str, score_expr: str,
                    lo: float = 0.0, hi: float = 1.0) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit over the same fixed score bins
    as `calibration_bins`: ``Ĥ = Σ_k (O_k − E_k)² / (E_k(1 − E_k/n_k))``
    with E_k = Σ predicted probabilities in bin k — the χ²-style single
    number behind the reliability diagram (reference against χ² with
    g − 2 dof; the statistic and dof are emitted, the tail probability
    is left to the caller's χ² table since no closed erf form exists).
    Bins with a degenerate expectation (E_k = 0 or E_k = n_k) would
    divide by zero and are excluded from the sum with their count
    reported, rather than silently folded in. One hash agg + a 1-row
    fold.
    """
    if hi <= lo:
        raise ValueError(f"hosmer_lemeshow: need lo < hi, got [{lo}, {hi})")
    width = (hi - lo) / 10
    s = F.expr(score_expr)
    b = F.least(F.greatest(F.floor((s - F.lit(lo)) / F.lit(width)),
                           F.lit(0)), F.lit(9)).cast("int")
    binned = (df.select(F.expr(label_expr).cast("double").alias("y"),
                        s.alias("s"), b.alias("bin"))
              .filter(F.col("s").isNotNull() & F.col("y").isNotNull())
              .groupBy("bin")
              .agg(F.count("*").cast("double").alias("nk"),
                   F.sum("y").alias("ok"),
                   F.sum("s").alias("ek")))
    degenerate = (F.col("ek") <= 0.0) | (F.col("ek") >= F.col("nk"))
    term = ((F.col("ok") - F.col("ek")) * (F.col("ok") - F.col("ek"))
            / (F.col("ek") * (1.0 - F.col("ek") / F.col("nk"))))
    agg = binned.agg(
        F.sum("nk").alias("n"),
        F.count("*").alias("g"),
        F.sum(F.when(degenerate, 1).otherwise(0)).alias("n_degenerate"),
        F.sum(F.when(~degenerate, term).otherwise(0.0)).alias("h"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("g").cast("long").alias("g"),
        F.col("n_degenerate").cast("long").alias("n_degenerate"),
        _r6(F.col("h")).alias("h"),
        (F.col("g") - F.col("n_degenerate") - 2).cast("long")
        .alias("dof"))


def hosmer_lemeshow_sql(table: str, label_expr: str, score_expr: str,
                        lo: float = 0.0, hi: float = 1.0,
                        n_bins: int = 10) -> str:
    width = (hi - lo) / n_bins
    return f"""
WITH hlh AS (
  SELECT CAST(LEAST(GREATEST(FLOOR(({score_expr} - {lo!r}) / {width!r}),
                             0), {n_bins - 1}) AS INT) AS bin,
         CAST({label_expr} AS DOUBLE) AS y, {score_expr} AS s
  FROM {table}
  WHERE ({score_expr}) IS NOT NULL AND ({label_expr}) IS NOT NULL
),
hlb AS (
  SELECT bin, CAST(COUNT(*) AS DOUBLE) AS nk, SUM(y) AS ok,
         SUM(s) AS ek
  FROM hlh GROUP BY bin
)
SELECT CAST(SUM(nk) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS g,
       CAST(SUM(CASE WHEN ek <= 0.0 OR ek >= nk THEN 1 ELSE 0 END)
            AS BIGINT) AS n_degenerate,
       ROUND(SUM(CASE WHEN ek > 0.0 AND ek < nk
                 THEN (ok - ek) * (ok - ek) / (ek * (1.0 - ek / nk))
                 ELSE 0.0 END), 6) + 0.0 AS h,
       CAST(COUNT(*) - SUM(CASE WHEN ek <= 0.0 OR ek >= nk
                           THEN 1 ELSE 0 END) - 2 AS BIGINT) AS dof
FROM hlb
"""


# ---------------------------------------------------------------------------
# Per-group simple OLS with inference
# ---------------------------------------------------------------------------

_OLS_FMT = {
    "sxx_c": "({sxx} - {sx} * {sx} / {n})",
    "syy_c": "({syy} - {sy} * {sy} / {n})",
    "sxy_c": "({sxy} - {sx} * {sy} / {n})",
}


def ols_fit(df: DataFrame, y_expr: str, x_expr: str,
            by_expr: str | None = None) -> DataFrame:
    """Per-group simple linear regression ``y ~ x`` by closed-form
    moment algebra, with the full inference readout a feature-audit
    pipeline needs: slope, intercept, R², residual standard error,
    slope standard error, t statistic, and the two-sided normal-
    approximation p-value — e.g. "is event value drifting over time,
    per event type, and is the trend significant?". Complements
    `temporal.mann_kendall` (nonparametric trend) with the parametric
    effect SIZE, and `checks.spearman_corr` (rank) with the linear fit
    itself.

    Shape: ONE map-side-combined hash aggregation to the six moment
    sums per group — no sort, no window, no second pass; 10^12 rows
    reduce to |groups| rows on the wire. Guards: groups with n < 3 or
    a degenerate x (zero variance) emit NULL statistics; R² is NULL
    when y is constant. The t→p mapping is the shared erf formula
    string, rendered identically into both engines.
    """
    g = F.expr(by_expr) if by_expr else F.lit("all")
    pre = df.select(g.alias("grp"),
                    F.expr(y_expr).cast("double").alias("y"),
                    F.expr(x_expr).cast("double").alias("x"))
    mom = (pre.filter(F.col("y").isNotNull() & F.col("x").isNotNull())
           .groupBy("grp")
           .agg(F.count("*").cast("double").alias("n"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("y") * F.col("y")).alias("syy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy")))
    sxx_c = _OLS_FMT["sxx_c"].format(n="n", sx="sx", sxx="sxx")
    syy_c = _OLS_FMT["syy_c"].format(n="n", sy="sy", syy="syy")
    sxy_c = _OLS_FMT["sxy_c"].format(n="n", sx="sx", sy="sy", sxy="sxy")
    out = mom.select(
        "grp", F.col("n").cast("long").alias("n"),
        F.expr(f"CASE WHEN n >= 3 AND {sxx_c} > 0 "
               f"THEN {sxy_c} / {sxx_c} END").alias("_slope"),
        F.expr(f"{sxx_c}").alias("_sxx_c"),
        F.expr(f"{syy_c}").alias("_syy_c"),
        F.expr(f"{sxy_c}").alias("_sxy_c"),
        F.col("sx"), F.col("sy"), F.col("n").alias("_nd"))
    out = out.select(
        "grp", "n", "_slope", "_sxx_c", "_syy_c", "_sxy_c",
        F.expr("CASE WHEN _slope IS NOT NULL "
               "THEN (sy - _slope * sx) / _nd END").alias("_icept"),
        F.expr("CASE WHEN _slope IS NOT NULL AND _syy_c > 0 "
               "THEN _sxy_c * _sxy_c / (_sxx_c * _syy_c) END").alias("_r2"),
        F.expr("CASE WHEN _slope IS NOT NULL AND n > 2 "
               "THEN (_syy_c - _slope * _sxy_c) / (_nd - 2) END")
        .alias("_s2"))
    t_expr = ("CASE WHEN _s2 IS NOT NULL AND _s2 > 0 "
              "THEN _slope / sqrt(_s2 / _sxx_c) END")
    return (out.withColumn("_t", F.expr(t_expr))
            .select("grp", "n",
                    _r6(F.col("_slope")).alias("slope"),
                    _r6(F.col("_icept")).alias("intercept"),
                    _r6(F.col("_r2")).alias("r2"),
                    _r6(F.expr("sqrt(_s2)")).alias("resid_se"),
                    _r6(F.expr("sqrt(_s2 / _sxx_c)")).alias("se_slope"),
                    _r6(F.col("_t")).alias("t_stat"),
                    _r6(F.expr(_two_sided_p_fmt("_t"))).alias("p_approx")))


def ols_fit_sql(table: str, y_expr: str, x_expr: str,
                by_expr: str | None = None) -> str:
    """DuckDB oracle: the identical moment algebra and shared erf
    string — no regr_* builtins, so the arithmetic is textually the
    same in both engines."""
    g = by_expr if by_expr else "'all'"
    sxx_c = _OLS_FMT["sxx_c"].format(n="n", sx="sx", sxx="sxx")
    syy_c = _OLS_FMT["syy_c"].format(n="n", sy="sy", syy="syy")
    sxy_c = _OLS_FMT["sxy_c"].format(n="n", sx="sx", sy="sy", sxy="sxy")
    return f"""
WITH pre AS (
  SELECT {g} AS grp,
         CAST(({y_expr}) AS DOUBLE) AS y,
         CAST(({x_expr}) AS DOUBLE) AS x
  FROM {table}
),
mom AS (
  SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx,
         SUM(y*y) AS syy, SUM(x*y) AS sxy
  FROM pre WHERE y IS NOT NULL AND x IS NOT NULL GROUP BY grp
),
fit AS (
  SELECT grp, n,
         CASE WHEN n >= 3 AND {sxx_c} > 0
              THEN {sxy_c} / {sxx_c} END AS _slope,
         {sxx_c} AS _sxx_c, {syy_c} AS _syy_c, {sxy_c} AS _sxy_c,
         sx, sy, n AS _nd
  FROM mom
),
fin AS (
  SELECT grp, n, _slope, _sxx_c, _syy_c, _sxy_c,
         CASE WHEN _slope IS NOT NULL
              THEN (sy - _slope * sx) / _nd END AS _icept,
         CASE WHEN _slope IS NOT NULL AND _syy_c > 0
              THEN _sxy_c * _sxy_c / (_sxx_c * _syy_c) END AS _r2,
         CASE WHEN _slope IS NOT NULL AND n > 2
              THEN (_syy_c - _slope * _sxy_c) / (_nd - 2) END AS _s2
  FROM fit
),
tt AS (
  SELECT *, CASE WHEN _s2 IS NOT NULL AND _s2 > 0
                 THEN _slope / sqrt(_s2 / _sxx_c) END AS _t
  FROM fin
)
SELECT grp, CAST(n AS BIGINT) AS n,
       ROUND(_slope, 6) + 0.0 AS slope,
       ROUND(_icept, 6) + 0.0 AS intercept,
       ROUND(_r2, 6) + 0.0 AS r2,
       ROUND(sqrt(_s2), 6) + 0.0 AS resid_se,
       ROUND(sqrt(_s2 / _sxx_c), 6) + 0.0 AS se_slope,
       ROUND(_t, 6) + 0.0 AS t_stat,
       ROUND({_two_sided_p_fmt('_t')}, 6) + 0.0 AS p_approx
FROM tt
"""


# ---------------------------------------------------------------------------
# Isotonic calibration (pool-adjacent-violators over the score alphabet)
# ---------------------------------------------------------------------------

def isotonic_calibration(df: DataFrame, label_expr: str,
                         score_expr: str) -> DataFrame:
    """Isotonic (PAV) calibration map from score to empirical
    probability: the step function ``cal(s)`` that is monotone
    non-decreasing in s and minimizes squared error against the binary
    labels — the non-parametric alternative to Platt scaling, feeding
    the same pipelines as :func:`calibration_bins`.

    PAV is inherently sequential, but only over the SCORE ALPHABET:
    the corpus first reduces with one map-side-combined hash
    aggregation to (score, n, sum_y) — scores are binned/rounded
    upstream exactly as the rank tests document, so this table is
    alphabet-sized (≪ rows; 10^12 rows with round-4 scores reduce to
    ≤10^4 rows). The pooling pass then runs in ONE `applyInPandas`
    task over that table (a deliberate single-group stage, like the
    BPE merge loop — documented, bounded, and nowhere near the fact
    stream). Output: one row per distinct score with the pooled
    calibrated probability. Non-SQL-expressible (the pooling is a
    data-dependent loop), so correctness is pinned by pytest golden
    parity with a NumPy PAV reference; the gate records rows-only.
    """
    hist = (df.select(F.expr(score_expr).cast("double").alias("s"),
                      F.expr(label_expr).cast("double").alias("y"))
            .filter(F.col("s").isNotNull() & F.col("y").isNotNull())
            .groupBy("s")
            .agg(F.count("*").cast("double").alias("n"),
                 F.sum("y").alias("sum_y")))

    def _pav(key, pdf):
        pdf = pdf.sort_values("s").reset_index(drop=True)
        blocks = []  # [start_row, weight, mean], merged while violating
        for i in range(len(pdf)):
            w = float(pdf["n"][i])
            blocks.append([i, w, float(pdf["sum_y"][i]) / w])
            while len(blocks) > 1 and blocks[-2][2] > blocks[-1][2]:
                s2, w2, m2 = blocks.pop()
                s1, w1, m1 = blocks.pop()
                blocks.append([s1, w1 + w2,
                               (w1 * m1 + w2 * m2) / (w1 + w2)])
        cal = [0.0] * len(pdf)
        for bi, (start, _w, m) in enumerate(blocks):
            end = (blocks[bi + 1][0] if bi + 1 < len(blocks)
                   else len(pdf))
            for i in range(start, end):
                cal[i] = m
        pdf["calibrated"] = [round(c, 6) + 0.0 for c in cal]
        pdf["rate"] = [round(float(r), 6) + 0.0
                       for r in pdf["sum_y"] / pdf["n"]]
        return pdf[["s", "n", "rate", "calibrated"]]

    from pyspark.sql.types import DoubleType, StructField, StructType
    schema = StructType([
        StructField("s", DoubleType()), StructField("n", DoubleType()),
        StructField("rate", DoubleType()),
        StructField("calibrated", DoubleType())])
    out = hist.groupBy(F.lit(1).alias("_g")).applyInPandas(_pav, schema)
    return out.select(F.col("s").alias("score"),
                      F.col("n").cast("long").alias("n"),
                      "rate", "calibrated")


# ---------------------------------------------------------------------------
# Logistic regression (IRLS, fixed iterations)
# ---------------------------------------------------------------------------

def logistic_fit(df: DataFrame, label_expr: str,
                 x_exprs: Sequence[str]) -> DataFrame:
    """Binary logistic regression of ``label_expr`` on ``x_exprs``
    (plus an intercept) via iteratively reweighted least squares —
    the quality-classifier / propensity-model trainer a labeled-data
    pipeline needs beyond closed-form OLS. Returns one row per
    coefficient: (feature, coef, se, z, p_approx), with Wald standard
    errors from the inverse Fisher information at the final iterate.

    Distributed shape: each IRLS step needs only the d²-sized
    sufficient statistics ``X'WX`` and ``X'(y − p)`` — computed by ONE
    map-side-combined aggregation per iteration with the current β
    rendered as literals into the plan (p = σ(xβ) evaluated JVM-side,
    no Python in the pass). The (d+1)² numbers per step are collected
    and solved driver-side in NumPy — driver traffic is
    O(8 · d²), independent of row count, the same pattern as
    `similarity.covariance_matrix`. A tiny ridge (1e-8) keeps the Newton
    system solvable under separation. A fixed 8 iterations bound the cost
    (8 full scans; Newton converges quadratically, 8 is plenty
    for |z|≲20 features). The driver-side solve is non-SQL — pytest
    pins golden parity with a pure-NumPy IRLS; the gate records
    rows-only.
    """
    import numpy as np

    d = len(x_exprs) + 1
    names = ["intercept"] + [f"x{i+1}" for i in range(len(x_exprs))]
    feats = [F.lit(1.0)] + [F.expr(e).cast("double") for e in x_exprs]
    base = df.select(F.expr(label_expr).cast("double").alias("_y"),
                     *[c.alias(f"_f{i}") for i, c in enumerate(feats)])
    base = base.filter(
        F.col("_y").isNotNull()
        & F.expr(" AND ".join(f"_f{i} IS NOT NULL" for i in range(d))))

    beta = np.zeros(d)
    info = None
    for _ in range(8):
        lin = " + ".join(f"({float(beta[i])!r}) * _f{i}"
                         for i in range(d))
        p = f"(1.0 / (1.0 + exp(-({lin}))))"
        w = f"({p} * (1.0 - {p}))"
        aggs = []
        for i in range(d):
            for j in range(i, d):
                aggs.append(F.sum(F.expr(f"{w} * _f{i} * _f{j}"))
                            .alias(f"h_{i}_{j}"))
            aggs.append(F.sum(F.expr(f"(_y - {p}) * _f{i}"))
                        .alias(f"g_{i}"))
        row = base.agg(*aggs).collect()[0]
        H = np.zeros((d, d))
        g = np.zeros(d)
        for i in range(d):
            for j in range(i, d):
                H[i, j] = H[j, i] = row[f"h_{i}_{j}"]
            g[i] = row[f"g_{i}"]
        H += np.eye(d) * 1e-8
        beta = beta + np.linalg.solve(H, g)
        info = H
    cov = np.linalg.inv(info)
    ses = np.sqrt(np.diag(cov))
    spark = df.sparkSession
    rows = []
    for i in range(d):
        z = float(beta[i] / ses[i]) if ses[i] > 0 else None
        import math as _m
        pval = (None if z is None
                else round(_m.erfc(abs(z) / _m.sqrt(2.0)), 6) + 0.0)
        rows.append((names[i], round(float(beta[i]), 6) + 0.0,
                     round(float(ses[i]), 6) + 0.0,
                     None if z is None else round(z, 6) + 0.0, pval))
    return spark.createDataFrame(
        rows, "feature string, coef double, se double, z double, "
              "p_approx double")


# ---------------------------------------------------------------------------
# Uplift (Qini) curve by score bins
# ---------------------------------------------------------------------------

def qini_curve(df: DataFrame, treat_expr: str, label_expr: str,
               score_expr: str) -> DataFrame:
    """Qini uplift curve over fixed score bins (best bin first): per
    cumulative prefix of the uplift-score ranking, the incremental
    responders ``Qini(k) = R_t(k) − R_c(k)·N_t(k)/N_c(k)`` plus the
    per-bin treated/control response rates and their uplift — the
    targeting readout for "whom does the treatment actually move"
    (uplift models, campaign audiences). Value-binned (not
    rank-tiled) so ties are engine-independent, mirroring
    `calibration_bins`.

    Shape: ONE conditional hash agg to (bin × 4 counters), cumulative
    windows over the 10-row table only. Raw rows touched once. Bins
    are ten equal slices of [0, 1]; out-of-range scores clamp to the
    end bins.
    """
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    y = f"(CASE WHEN ({label_expr}) THEN 1 ELSE 0 END)"
    width = 1.0 / 10
    # CAST to DOUBLE before binning: Spark parses numeric literals in
    # the score expression as exact DECIMALs, whose floor at bin
    # boundaries differs from DuckDB's IEEE doubles (0.3/0.1 is 3 in
    # decimal, 2.999... in binary) — the cast pins both engines to the
    # same IEEE arithmetic
    b = ("LEAST(9, GREATEST(0, CAST(floor("
         f"(CAST(({score_expr}) AS DOUBLE) - 0.0)"
         f" / {width!r}) AS INT)))")
    binned = (df.groupBy(F.expr(b).alias("bin"))
              .agg(F.sum(F.expr(t)).alias("n_t"),
                   F.sum(F.expr(f"1 - {t}")).alias("n_c"),
                   F.sum(F.expr(f"{t} * {y}")).alias("r_t"),
                   F.sum(F.expr(f"(1 - {t}) * {y}")).alias("r_c")))
    w = (Window.orderBy(F.col("bin").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = (binned
           .withColumn("cn_t", F.sum("n_t").over(w))
           .withColumn("cn_c", F.sum("n_c").over(w))
           .withColumn("cr_t", F.sum("r_t").over(w))
           .withColumn("cr_c", F.sum("r_c").over(w)))
    return cum.select(
        "bin",
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        _r6(F.expr("CASE WHEN n_t > 0 THEN CAST(r_t AS DOUBLE) / n_t"
                   " END")).alias("rate_t"),
        _r6(F.expr("CASE WHEN n_c > 0 THEN CAST(r_c AS DOUBLE) / n_c"
                   " END")).alias("rate_c"),
        _r6(F.expr("CASE WHEN n_t > 0 AND n_c > 0 THEN"
                   " CAST(r_t AS DOUBLE) / n_t"
                   " - CAST(r_c AS DOUBLE) / n_c END")).alias("uplift"),
        _r6(F.expr("CASE WHEN cn_c > 0 THEN cr_t"
                   " - CAST(cr_c AS DOUBLE) * cn_t / cn_c END"))
        .alias("qini"))


def qini_curve_sql(table: str, treat_expr: str, label_expr: str,
                   score_expr: str, n_bins: int = 10,
                   lo: float = 0.0, hi: float = 1.0) -> str:
    """DuckDB oracle: identical binning, counters, and cumulative
    walk."""
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    y = f"(CASE WHEN ({label_expr}) THEN 1 ELSE 0 END)"
    width = (float(hi) - float(lo)) / int(n_bins)
    # CAST to DOUBLE before binning: Spark parses numeric literals in
    # the score expression as exact DECIMALs, whose floor at bin
    # boundaries differs from DuckDB's IEEE doubles (0.3/0.1 is 3 in
    # decimal, 2.999... in binary) — the cast pins both engines to the
    # same IEEE arithmetic
    b = (f"LEAST({int(n_bins) - 1}, GREATEST(0, CAST(floor("
         f"(CAST(({score_expr}) AS DOUBLE) - {float(lo)!r})"
         f" / {width!r}) AS INT)))")
    return f"""
WITH binned AS (
  SELECT {b} AS bin,
         SUM({t}) AS n_t, SUM(1 - {t}) AS n_c,
         SUM({t} * {y}) AS r_t, SUM((1 - {t}) * {y}) AS r_c
  FROM {table} GROUP BY 1
),
cum AS (
  SELECT *,
         SUM(n_t) OVER w AS cn_t, SUM(n_c) OVER w AS cn_c,
         SUM(r_t) OVER w AS cr_t, SUM(r_c) OVER w AS cr_c
  FROM binned
  WINDOW w AS (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT bin, CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
       ROUND(CASE WHEN n_t > 0 THEN CAST(r_t AS DOUBLE) / n_t END, 6)
         + 0.0 AS rate_t,
       ROUND(CASE WHEN n_c > 0 THEN CAST(r_c AS DOUBLE) / n_c END, 6)
         + 0.0 AS rate_c,
       ROUND(CASE WHEN n_t > 0 AND n_c > 0 THEN
             CAST(r_t AS DOUBLE) / n_t - CAST(r_c AS DOUBLE) / n_c
             END, 6) + 0.0 AS uplift,
       ROUND(CASE WHEN cn_c > 0 THEN
             cr_t - CAST(cr_c AS DOUBLE) * cn_t / cn_c END, 6) + 0.0
         AS qini
FROM cum
"""
