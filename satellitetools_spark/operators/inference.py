"""Classical statistical inference over DataFrames — the hypothesis
tests an analytics engine runs AFTER the descriptive statistics
(`checks.spearman_corr`, `checks.ab_ztest`, `checks.chi_square_…`)
say "something looks different": does segment A really differ from
segment B (Welch t, Mann-Whitney U, Kolmogorov-Smirnov), do k segments
differ at all (one-way ANOVA F, Kruskal-Wallis H), and has a scoring
feature's distribution drifted enough to retrain (PSI)?

Design rules shared by every test here:

* **Moment/count aggregation only on the fact stream.** Raw rows are
  reduced by ONE hash aggregation (map-side combined) to group moments
  or distinct-value counts; every window sorts only the aggregated
  table (group or distinct-value cardinality), never the facts. Rank
  tests avoid the naive global RANK() over raw rows — midranks are
  derived from the distinct-value histogram: midrank(v) =
  (# obs < v) + (t_v + 1)/2, algebraically identical to
  RANK + (ties−1)/2 but computed on a table the size of the value
  alphabet.
* **Both engines evaluate the same algebra.** Statistics round to 6
  with `+0.0` signed-zero normalization so the driver's stringify-hash
  compares bit-for-bit; guarded denominators return NULL (ANSI) rather
  than NaN.
* **Asymptotic p-values, stated as such.** z/F/H are the exact
  statistics; where a p-value is emitted it is the standard large-n
  approximation (KS: the one-term Kolmogorov series), which is the
  convention at row counts where these pipelines operate.

At 10^12 rows the distinct-value histogram of a continuous double is
itself data-sized; the documented scale path is the same one the
quantile sketch takes — bin values first (`checks.histogram` /
`binned_quantiles`), then run the identical rank algebra on bin ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _r6(col):
    return F.round(col, 6) + 0.0


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test (two groups)
# ---------------------------------------------------------------------------

def welch_ttest(df: DataFrame, group_expr: str, value_col: str
                ) -> DataFrame:
    """Welch's t-test between the two groups ``group_expr`` (any SQL
    expression evaluating to 0/1) splits ``value_col`` into — the
    difference-in-means readout that does NOT assume equal variances,
    so a heavy-tailed treatment arm cannot masquerade as significant.
    Returns one row: per-group n/mean, mean difference, t statistic,
    and the Welch–Satterthwaite degrees of freedom.

    Shape: ONE map-side-combined hash agg collapses the fact stream to
    two (n, Σv, Σv²) triples; the readout is a 1-row conditional agg.
    Nothing is sorted, nothing is quadratic — the cheapest test in the
    family and the first to reach for at corpus scale.
    """
    g = (df.select(F.expr(group_expr).cast("int").alias("g"),
                   F.col(value_col).alias("v"))
         .filter(F.col("v").isNotNull())
         .groupBy("g")
         .agg(F.count("*").cast("double").alias("n"),
              F.sum("v").alias("s"),
              F.sum(F.col("v") * F.col("v")).alias("s2")))
    out = g.agg(
        F.sum(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("g") == 0, F.col("s"))).alias("s0"),
        F.sum(F.when(F.col("g") == 0, F.col("s2"))).alias("q0"),
        F.sum(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("g") == 1, F.col("s"))).alias("s1"),
        F.sum(F.when(F.col("g") == 1, F.col("s2"))).alias("q1"))
    m0 = F.col("s0") / F.col("n0")
    m1 = F.col("s1") / F.col("n1")
    # unbiased sample variance via the moment identity (n/(n-1) factor)
    v0 = (F.col("q0") / F.col("n0") - m0 * m0) \
        * (F.col("n0") / (F.col("n0") - 1.0))
    v1 = (F.col("q1") / F.col("n1") - m1 * m1) \
        * (F.col("n1") / (F.col("n1") - 1.0))
    a = v0 / F.col("n0")
    b = v1 / F.col("n1")
    se = F.sqrt(a + b)
    dof = ((a + b) * (a + b)
           / (a * a / (F.col("n0") - 1.0) + b * b / (F.col("n1") - 1.0)))
    return out.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        _r6(m0).alias("mean0"),
        _r6(m1).alias("mean1"),
        _r6(m1 - m0).alias("diff"),
        _r6((m1 - m0) / F.when(se != 0, se)).alias("t_stat"),
        _r6(dof).alias("dof"))


def welch_ttest_sql(table: str, group_expr: str, value_col: str) -> str:
    """DuckDB oracle: identical moments and Welch–Satterthwaite
    algebra."""
    return f"""
WITH wtg AS (
  SELECT CAST({group_expr} AS INT) AS g,
         CAST(COUNT(*) AS DOUBLE) AS n,
         SUM({value_col}) AS s, SUM({value_col} * {value_col}) AS s2
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
),
wtp AS (
  SELECT SUM(CASE WHEN g = 0 THEN n END) AS n0,
         SUM(CASE WHEN g = 0 THEN s END) AS s0,
         SUM(CASE WHEN g = 0 THEN s2 END) AS q0,
         SUM(CASE WHEN g = 1 THEN n END) AS n1,
         SUM(CASE WHEN g = 1 THEN s END) AS s1,
         SUM(CASE WHEN g = 1 THEN s2 END) AS q1
  FROM wtg
),
wtv AS (
  SELECT n0, n1, s0 / n0 AS m0, s1 / n1 AS m1,
         (q0 / n0 - (s0 / n0) * (s0 / n0)) * (n0 / (n0 - 1.0)) / n0 AS a,
         (q1 / n1 - (s1 / n1) * (s1 / n1)) * (n1 / (n1 - 1.0)) / n1 AS b
  FROM wtp
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       ROUND(m0, 6) + 0.0 AS mean0, ROUND(m1, 6) + 0.0 AS mean1,
       ROUND(m1 - m0, 6) + 0.0 AS diff,
       ROUND((m1 - m0) / (CASE WHEN SQRT(a + b) <> 0
                          THEN SQRT(a + b) END), 6) + 0.0 AS t_stat,
       ROUND((a + b) * (a + b)
             / (a * a / (n0 - 1.0) + b * b / (n1 - 1.0)), 6) + 0.0
         AS dof
FROM wtv
"""


# ---------------------------------------------------------------------------
# One-way ANOVA F (k groups)
# ---------------------------------------------------------------------------

def anova_f(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One-way ANOVA: does ``value_col``'s mean differ across the
    levels of ``group_col`` at all? F = (SSB/(k−1)) / (SSW/(N−k)) from
    the between/within sum-of-squares decomposition — the screening
    test run before pairwise comparisons (and their multiplicity
    corrections) are worth the compute.

    Shape: ONE hash agg to k (n, Σv, Σv²) rows, then a 1-row fold —
    SSB = Σ s_g²/n_g − (Σs)²/N and SSW = Σ(q_g − s_g²/n_g) are both
    linear in the group table. Identical cost profile to the profiler.
    """
    g = (df.select(F.col(group_col).alias("g"),
                   F.col(value_col).alias("v"))
         .filter(F.col("v").isNotNull())
         .groupBy("g")
         .agg(F.count("*").cast("double").alias("n"),
              F.sum("v").alias("s"),
              F.sum(F.col("v") * F.col("v")).alias("q")))
    out = g.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum("q").alias("qq"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb"))
    ssb = F.col("sb") - F.col("ss") * F.col("ss") / F.col("nn")
    ssw = F.col("qq") - F.col("sb")
    msb = ssb / (F.col("k") - 1.0)
    msw = ssw / (F.col("nn") - F.col("k"))
    return out.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n_obs"),
        _r6(ssb).alias("ss_between"),
        _r6(ssw).alias("ss_within"),
        _r6(msb / F.when(msw != 0, msw)).alias("f_stat"))


def anova_f_sql(table: str, group_col: str, value_col: str) -> str:
    """DuckDB oracle: identical decomposition."""
    return f"""
WITH afg AS (
  SELECT {group_col} AS g, CAST(COUNT(*) AS DOUBLE) AS n,
         SUM({value_col}) AS s,
         SUM({value_col} * {value_col}) AS q
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
),
afp AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(n) AS nn, SUM(s) AS ss,
         SUM(q) AS qq, SUM(s * s / n) AS sb
  FROM afg
)
SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n_obs,
       ROUND(sb - ss * ss / nn, 6) + 0.0 AS ss_between,
       ROUND(qq - sb, 6) + 0.0 AS ss_within,
       ROUND(((sb - ss * ss / nn) / (k - 1.0))
             / (CASE WHEN (qq - sb) / (nn - k) <> 0
                THEN (qq - sb) / (nn - k) END), 6) + 0.0 AS f_stat
FROM afp
"""


# ---------------------------------------------------------------------------
# Distinct-value midrank scaffold (shared by MW-U and KW)
# ---------------------------------------------------------------------------
# midrank(v) = (# obs with value < v) + (t_v + 1)/2 over the pooled
# sample — derived from the distinct-value histogram so the only sort
# is over the value alphabet, never the fact rows.

def _mwu_formula() -> str:
    """Shared expression text for the tie-corrected MW-U z — parsed by
    both engines so the algebra cannot drift."""
    mu = "(n0 * n1 / 2.0)"
    sig = ("SQRT((n0 * n1 / 12.0) * ((nn + 1.0) "
           "- tie_s / (nn * (nn - 1.0))))")
    return f"((u1) - {mu}) / (CASE WHEN {sig} <> 0 THEN {sig} END)"


def mann_whitney_u(df: DataFrame, group_expr: str, value_col: str
                   ) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the two groups of
    ``group_expr`` — the nonparametric two-sample test that compares
    entire distributions by rank, immune to outliers and monotone
    rescaling. Returns one row: n0, n1, u0, u1, and the tie-corrected
    normal-approximation ``z`` (no continuity correction, stated —
    both engines must evaluate the same formula).

    Shape: ONE hash agg to the distinct-value histogram (t_v and the
    group-1 share per value), one cumulative window over THAT table
    (value-alphabet cardinality), one 1-row fold: R1 = Σ c1_v·midrank(v)
    with midrank(v) = cum_before(v) + (t_v+1)/2 — algebraically equal to
    average-tie ranks over the raw rows, without ever sorting them. The
    tie term Σ(t³−t) rides the same histogram.
    """
    from satellitetools_spark.operators.cumsum import prefix_sums
    h = (df.select(F.expr(group_expr).cast("int").alias("g"),
                   F.col(value_col).alias("v"))
         .filter(F.col("v").isNotNull())
         .groupBy("v")
         .agg(F.count("*").cast("double").alias("t"),
              F.sum(F.col("g")).cast("double").alias("c1")))
    # two-level scan over the value alphabet (cumsum.prefix_sums) —
    # a continuous metric's alphabet approaches row count, so the
    # cumulative pass must never collapse to one partition; counts
    # are integral, so the regrouped sums stay bit-exact
    ranked = (prefix_sums(h, [F.col("v").asc()], ["t"])
              .withColumn("before", F.col("cum_t") - F.col("t")))
    mid = F.col("before") + (F.col("t") + 1.0) / 2.0
    agg = ranked.agg(
        F.sum("t").alias("nn"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("c1") * mid).alias("r1"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .alias("tie_s"))
    out = agg.select(
        (F.col("nn") - F.col("n1")).alias("n0"), "n1", "nn", "tie_s",
        (F.col("r1") - F.col("n1") * (F.col("n1") + 1.0) / 2.0)
        .alias("u1"))
    z = F.expr(_mwu_formula())
    return out.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        (F.col("n0") * F.col("n1") - F.col("u1")).cast("double")
        .alias("u0"),
        F.col("u1").cast("double").alias("u1"),
        _r6(z).alias("z"))


def mann_whitney_u_sql(table: str, group_expr: str, value_col: str
                       ) -> str:
    """DuckDB oracle: identical histogram-midrank construction and the
    same z expression text."""
    z = _mwu_formula()
    return f"""
WITH mwh AS (
  SELECT {value_col} AS v, CAST(COUNT(*) AS DOUBLE) AS t,
         CAST(SUM(CAST({group_expr} AS INT)) AS DOUBLE) AS c1
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
),
mwr AS (
  SELECT v, t, c1,
         COALESCE(SUM(t) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0.0) AS before
  FROM mwh
),
mwa AS (
  SELECT SUM(t) AS nn, SUM(c1) AS n1,
         SUM(c1 * (before + (t + 1.0) / 2.0)) AS r1,
         SUM(t * t * t - t) AS tie_s
  FROM mwr
),
mwo AS (
  SELECT nn - n1 AS n0, n1, nn, tie_s,
         r1 - n1 * (n1 + 1.0) / 2.0 AS u1
  FROM mwa
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       CAST(n0 * n1 - u1 AS DOUBLE) AS u0, CAST(u1 AS DOUBLE) AS u1,
       ROUND({z}, 6) + 0.0 AS z
FROM mwo
"""


# ---------------------------------------------------------------------------
# Kruskal-Wallis H (k groups)
# ---------------------------------------------------------------------------

def kruskal_wallis(df: DataFrame, group_col: str, value_col: str
                   ) -> DataFrame:
    """Kruskal-Wallis H: the k-group generalization of Mann-Whitney —
    do ANY of the groups stochastically dominate? H = 12/(N(N+1)) ·
    Σ R_g²/n_g − 3(N+1), divided by the tie correction
    1 − Σ(t³−t)/(N³−N). Returns one row (n_obs, k_groups, h, h_adj);
    under H₀, H ~ χ²(k−1).

    Shape: one hash agg to the (value, group) histogram, the SAME
    distinct-value cumulative window as :func:`mann_whitney_u` (values
    table only — per-group midrank sums come from the per-(value,group)
    counts joined onto it), one k-row agg, one 1-row readout.
    """
    from satellitetools_spark.operators.cumsum import prefix_sums
    vg = (df.select(F.col(group_col).alias("g"),
                    F.col(value_col).alias("v"))
          .filter(F.col("v").isNotNull())
          .groupBy("v", "g")
          .agg(F.count("*").cast("double").alias("c")))
    # value-level totals carry the cumulative rank base and tie term;
    # the cumulative pass is the two-level alphabet scan (see
    # cumsum.prefix_sums), never a single-partition window
    vt = (prefix_sums(vg.groupBy("v").agg(F.sum("c").alias("t")),
                      [F.col("v").asc()], ["t"])
          .withColumn("before", F.col("cum_t") - F.col("t")))
    mid = F.col("before") + (F.col("t") + 1.0) / 2.0
    per_g = (vg.join(vt, "v")
             .groupBy("g")
             .agg(F.sum("c").alias("ng"),
                  F.sum(F.col("c") * mid).alias("rg")))
    ties = vt.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .alias("tie_s"))
    agg = (per_g.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("ng").alias("nn"),
        F.sum(F.col("rg") * F.col("rg") / F.col("ng")).alias("rr"))
        .crossJoin(F.broadcast(ties)))
    h = (12.0 / (F.col("nn") * (F.col("nn") + 1.0)) * F.col("rr")
         - 3.0 * (F.col("nn") + 1.0))
    corr = 1.0 - F.col("tie_s") / (F.col("nn") * F.col("nn")
                                   * F.col("nn") - F.col("nn"))
    return agg.select(
        F.col("nn").cast("long").alias("n_obs"),
        F.col("k").cast("long").alias("k_groups"),
        _r6(h).alias("h"),
        _r6(h / F.when(corr != 0, corr)).alias("h_adj"))


def kruskal_wallis_sql(table: str, group_col: str, value_col: str
                       ) -> str:
    """DuckDB oracle: identical histogram, midranks, and correction."""
    return f"""
WITH kwvg AS (
  SELECT {value_col} AS v, {group_col} AS g,
         CAST(COUNT(*) AS DOUBLE) AS c
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
),
kwvt AS (
  SELECT v, SUM(c) AS t,
         COALESCE(SUM(SUM(c)) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0.0) AS before
  FROM kwvg GROUP BY v
),
kwg AS (
  SELECT g, SUM(c) AS ng,
         SUM(c * (before + (t + 1.0) / 2.0)) AS rg
  FROM kwvg JOIN kwvt USING (v) GROUP BY g
),
kwt AS (SELECT SUM(t * t * t - t) AS tie_s FROM kwvt),
kwa AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(ng) AS nn,
         SUM(rg * rg / ng) AS rr
  FROM kwg
)
SELECT CAST(nn AS BIGINT) AS n_obs, CAST(k AS BIGINT) AS k_groups,
       ROUND(12.0 / (nn * (nn + 1.0)) * rr - 3.0 * (nn + 1.0), 6)
         + 0.0 AS h,
       ROUND((12.0 / (nn * (nn + 1.0)) * rr - 3.0 * (nn + 1.0))
             / (CASE WHEN 1.0 - tie_s / (nn * nn * nn - nn) <> 0
                THEN 1.0 - tie_s / (nn * nn * nn - nn) END), 6) + 0.0
         AS h_adj
FROM kwa, kwt
"""


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov
# ---------------------------------------------------------------------------

def ks_test(df: DataFrame, group_expr: str, value_col: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov: D = sup_x |F₀(x) − F₁(x)| between
    the empirical CDFs of the two groups — the distribution-shape test
    that catches what a mean test misses (variance shifts, bimodality).
    Returns one row: n0, n1, d, and the one-term asymptotic p-value
    ``2·exp(−2 D² n0 n1 / (n0+n1))`` (an upper-tail bound, the standard
    large-sample readout).

    Shape: the ECDFs step only at observed values, so D is exact from
    the distinct-value histogram: one fact-stream hash agg, one
    cumulative window + max over the value alphabet, a 1-row readout.
    """
    from satellitetools_spark.operators.cumsum import prefix_sums
    h = (df.select(F.expr(group_expr).cast("int").alias("g"),
                   F.col(value_col).alias("v"))
         .filter(F.col("v").isNotNull())
         .groupBy("v")
         .agg(F.sum(F.when(F.col("g") == 0, 1.0).otherwise(0.0))
              .alias("c0"),
              F.sum(F.when(F.col("g") == 1, 1.0).otherwise(0.0))
              .alias("c1")))
    # ECDF steps via the two-level alphabet scan; group sizes ride
    # back from the same partials as driver-side literals
    cum, tot = prefix_sums(h, [F.col("v").asc()], ["c0", "c1"],
                           return_totals=True)
    cum = (cum.withColumnRenamed("cum_c0", "f0")
           .withColumnRenamed("cum_c1", "f1")
           .withColumn("tn0", F.lit(tot["c0"]))
           .withColumn("tn1", F.lit(tot["c1"])))
    agg = cum.agg(
        F.max("tn0").alias("n0"), F.max("tn1").alias("n1"),
        F.max(F.abs(F.col("f0") / F.col("tn0")
                    - F.col("f1") / F.col("tn1"))).alias("d"))
    p = 2.0 * F.exp(-2.0 * F.col("d") * F.col("d") * F.col("n0")
                    * F.col("n1") / (F.col("n0") + F.col("n1")))
    return agg.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        _r6(F.col("d")).alias("d"),
        _r6(F.least(p, F.lit(1.0))).alias("p_approx"))


def ks_test_sql(table: str, group_expr: str, value_col: str) -> str:
    """DuckDB oracle: identical histogram-CDF construction."""
    return f"""
WITH ksh AS (
  SELECT {value_col} AS v,
         SUM(CASE WHEN CAST({group_expr} AS INT) = 0
             THEN 1.0 ELSE 0.0 END) AS c0,
         SUM(CASE WHEN CAST({group_expr} AS INT) = 1
             THEN 1.0 ELSE 0.0 END) AS c1
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
),
ksc AS (
  SELECT SUM(c0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS f0,
         SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS f1
  FROM ksh
),
ksn AS (SELECT MAX(f0) AS n0, MAX(f1) AS n1 FROM ksc),
ksd AS (
  SELECT MAX(ABS(f0 / (SELECT n0 FROM ksn)
                 - f1 / (SELECT n1 FROM ksn))) AS d
  FROM ksc
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       ROUND(d, 6) + 0.0 AS d,
       ROUND(LEAST(2.0 * EXP(-2.0 * d * d * n0 * n1 / (n0 + n1)),
                   1.0), 6) + 0.0 AS p_approx
FROM ksd, ksn
"""


# ---------------------------------------------------------------------------
# Population Stability Index (binned numeric drift)
# ---------------------------------------------------------------------------

def psi(df: DataFrame, slice_expr: str, value_col: str,
        lo: float, hi: float, n_bins: int = 10) -> DataFrame:
    """Population Stability Index between the expected (``slice_expr``
    = 0, e.g. the training window) and actual (= 1, the serving window)
    distributions of a numeric feature — the model-monitoring
    convention: PSI = Σ_b (p_a − p_e)·ln(p_a/p_e) over fixed bins,
    with add-0.5 Laplace smoothing so an empty bin cannot emit
    ±∞. <0.1 stable, 0.1–0.25 drifting, >0.25 retrain — the same
    decision thresholds every scoring pipeline documents. Returns one
    row per bin (shares + contribution) plus the total repeated, so
    both the alarm number and the per-bin attribution come from one
    query.

    Shape: one fact-stream hash agg at (bin, slice) cardinality, the
    bin-completion join from :func:`checks.histogram`'s playbook, and
    windows over the ≤(n_bins+2)-row bin table only.
    """
    if n_bins < 1:
        raise ValueError("psi: n_bins must be >= 1")
    if not float(hi) > float(lo):
        raise ValueError(f"psi: hi ({hi}) must be > lo ({lo})")
    from pyspark.sql import Window as _W
    v = F.col(value_col)
    width = (float(hi) - float(lo)) / n_bins
    raw = F.floor((v - float(lo)) / F.lit(width)).cast("long")
    bin_ = (F.when(v < lo, F.lit(-1))
            .when(v >= hi, F.lit(n_bins))
            .otherwise(F.least(raw, F.lit(n_bins - 1))).cast("int"))
    counts = (df.filter(v.isNotNull())
              .select(bin_.alias("bin"),
                      F.expr(slice_expr).cast("int").alias("sl"))
              .groupBy("bin")
              .agg(F.sum(F.when(F.col("sl") == 0, 1.0).otherwise(0.0))
                   .alias("ce"),
                   F.sum(F.when(F.col("sl") == 1, 1.0).otherwise(0.0))
                   .alias("ca")))
    spark = df.sparkSession
    bins = spark.range(-1, n_bins + 1).select(
        F.col("id").cast("int").alias("bin"))
    full = (bins.join(counts, "bin", "left")
            .select("bin", F.coalesce("ce", F.lit(0.0)).alias("ce"),
                    F.coalesce("ca", F.lit(0.0)).alias("ca")))
    wall = _W.partitionBy()
    nb = float(n_bins + 2)
    pe = ((F.col("ce") + 0.5) / (F.sum("ce").over(wall) + 0.5 * nb))
    pa = ((F.col("ca") + 0.5) / (F.sum("ca").over(wall) + 0.5 * nb))
    contrib = (pa - pe) * F.log(pa / pe)
    return (full
            .withColumn("p_expected", _r6(pe))
            .withColumn("p_actual", _r6(pa))
            .withColumn("contrib", _r6(contrib))
            .withColumn("psi_total",
                        _r6(F.sum(contrib).over(wall)))
            .select("bin", F.col("ce").cast("long").alias("n_expected"),
                    F.col("ca").cast("long").alias("n_actual"),
                    "p_expected", "p_actual", "contrib", "psi_total"))


def psi_sql(table: str, slice_expr: str, value_col: str,
            lo: float, hi: float, n_bins: int = 10,
            smooth: float = 0.5) -> str:
    """DuckDB oracle: identical binning, smoothing, and folds."""
    width = (float(hi) - float(lo)) / n_bins
    nb = float(n_bins + 2)
    return f"""
WITH psic AS (
  SELECT CAST(CASE WHEN {value_col} < {lo!r} THEN -1
              WHEN {value_col} >= {hi!r} THEN {n_bins}
              ELSE LEAST(CAST(FLOOR(({value_col} - {lo!r}) / {width!r})
                              AS BIGINT), {n_bins - 1}) END AS INT)
           AS bin,
         SUM(CASE WHEN CAST({slice_expr} AS INT) = 0
             THEN 1.0 ELSE 0.0 END) AS ce,
         SUM(CASE WHEN CAST({slice_expr} AS INT) = 1
             THEN 1.0 ELSE 0.0 END) AS ca
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
),
psib AS (SELECT CAST(u.b AS INT) AS bin
         FROM unnest(generate_series(-1, {n_bins})) u(b)),
psif AS (
  SELECT bin, COALESCE(ce, 0.0) AS ce, COALESCE(ca, 0.0) AS ca
  FROM psib LEFT JOIN psic USING (bin)
),
psip AS (
  SELECT bin, ce, ca,
         (ce + {float(smooth)!r})
           / (SUM(ce) OVER () + {float(smooth)!r} * {nb!r}) AS pe,
         (ca + {float(smooth)!r})
           / (SUM(ca) OVER () + {float(smooth)!r} * {nb!r}) AS pa
  FROM psif
)
SELECT bin, CAST(ce AS BIGINT) AS n_expected,
       CAST(ca AS BIGINT) AS n_actual,
       ROUND(pe, 6) + 0.0 AS p_expected,
       ROUND(pa, 6) + 0.0 AS p_actual,
       ROUND((pa - pe) * LN(pa / pe), 6) + 0.0 AS contrib,
       ROUND(SUM((pa - pe) * LN(pa / pe)) OVER (), 6) + 0.0
         AS psi_total
FROM psip
"""


# ---------------------------------------------------------------------------
# Wasserstein-1 (earth-mover) distance between two 1-d distributions
# ---------------------------------------------------------------------------

def wasserstein_1(df: DataFrame, group_expr: str, value_col: str
                  ) -> DataFrame:
    """Exact 1-d earth-mover distance between the two groups' value
    distributions: ``W₁ = ∫ |F₀ − F₁| dv`` — the INTEGRAL drift metric
    that complements KS's supremum (KS sees the worst single gap; W₁
    sees total transported mass, so a long small shift registers even
    when no single quantile gap is large).

    On empirical distributions the integrand is a step function that
    changes only at observed values, so the integral is EXACT from the
    distinct-value histogram: Σᵢ |F₀(vᵢ) − F₁(vᵢ)|·(vᵢ₊₁ − vᵢ). Same
    one-agg + alphabet-window shape as `ks_test`; the lead(v) term
    makes the final row contribute 0 naturally (no next value).
    """
    from satellitetools_spark.operators.cumsum import prefix_sums
    h = (df.select(F.expr(group_expr).cast("int").alias("g"),
                   F.col(value_col).cast("double").alias("v"))
         .filter(F.col("v").isNotNull())
         .groupBy("v")
         .agg(F.sum(F.when(F.col("g") == 0, 1.0).otherwise(0.0))
              .alias("c0"),
              F.sum(F.when(F.col("g") == 1, 1.0).otherwise(0.0))
              .alias("c1")))
    # two-level alphabet scan; the cross-partition LEAD rides the same
    # partials (see cumsum.prefix_sums lead_of)
    cum, tot = prefix_sums(h, [F.col("v").asc()], ["c0", "c1"],
                           return_totals=True, lead_of="v")
    cum = (cum.withColumnRenamed("cum_c0", "f0")
           .withColumnRenamed("cum_c1", "f1")
           .withColumnRenamed("lead_v", "nv")
           .withColumn("n0", F.lit(tot["c0"]))
           .withColumn("n1", F.lit(tot["c1"])))
    seg = (F.abs(F.col("f0") / F.col("n0") - F.col("f1") / F.col("n1"))
           * (F.coalesce(F.col("nv"), F.col("v")) - F.col("v")))
    agg = cum.agg(F.max("n0").alias("n0"), F.max("n1").alias("n1"),
                  F.sum(seg).alias("w1"))
    return agg.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        _r6(F.col("w1")).alias("w1"))


def wasserstein_1_sql(table: str, group_expr: str, value_col: str
                      ) -> str:
    return f"""
WITH wsh AS (
  SELECT {value_col} AS v,
         SUM(CASE WHEN CAST({group_expr} AS INT) = 0
             THEN 1.0 ELSE 0.0 END) AS c0,
         SUM(CASE WHEN CAST({group_expr} AS INT) = 1
             THEN 1.0 ELSE 0.0 END) AS c1
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
),
wsc AS (
  SELECT v, LEAD(v) OVER (ORDER BY v) AS nv,
         SUM(c0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS f0,
         SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS f1,
         SUM(c0) OVER () AS n0, SUM(c1) OVER () AS n1
  FROM wsh
)
SELECT CAST(MAX(n0) AS BIGINT) AS n0, CAST(MAX(n1) AS BIGINT) AS n1,
       ROUND(SUM(ABS(f0 / n0 - f1 / n1)
                 * (COALESCE(nv, v) - v)), 6) + 0.0 AS w1
FROM wsc
"""


# ---------------------------------------------------------------------------
# Cohen's d / Hedges' g effect size (two groups)
# ---------------------------------------------------------------------------

def cohens_d(df: DataFrame, group_expr: str, value_col: str
             ) -> DataFrame:
    """Standardized mean difference between the two groups: Cohen's
    ``d = (m₁ − m₀)/s_pooled`` with the pooled unbiased SD, plus
    Hedges' small-sample correction ``g = d·(1 − 3/(4(n₀+n₁) − 9))``
    — the EFFECT SIZE a corpus-scale t-test must be paired with
    (at 10⁹ rows everything is "significant"; d says whether it
    matters: 0.2 small / 0.5 medium / 0.8 large). Same single
    moment-agg shape as `welch_ttest`.
    """
    g = (df.select(F.expr(group_expr).cast("int").alias("g"),
                   F.col(value_col).alias("v"))
         .filter(F.col("v").isNotNull())
         .groupBy("g")
         .agg(F.count("*").cast("double").alias("n"),
              F.sum("v").alias("s"),
              F.sum(F.col("v") * F.col("v")).alias("s2")))
    out = g.agg(
        F.sum(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("g") == 0, F.col("s"))).alias("s0"),
        F.sum(F.when(F.col("g") == 0, F.col("s2"))).alias("q0"),
        F.sum(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("g") == 1, F.col("s"))).alias("s1"),
        F.sum(F.when(F.col("g") == 1, F.col("s2"))).alias("q1"))
    m0 = F.col("s0") / F.col("n0")
    m1 = F.col("s1") / F.col("n1")
    ss0 = F.col("q0") - F.col("n0") * m0 * m0   # Σ(v−m)² via moments
    ss1 = F.col("q1") - F.col("n1") * m1 * m1
    sp = F.sqrt((ss0 + ss1) / (F.col("n0") + F.col("n1") - 2.0))
    d = (m1 - m0) / sp
    corr = 1.0 - 3.0 / (4.0 * (F.col("n0") + F.col("n1")) - 9.0)
    return out.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        _r6(m1 - m0).alias("mean_diff"),
        _r6(sp).alias("pooled_sd"),
        _r6(d).alias("d"),
        _r6(d * corr).alias("hedges_g"))


def cohens_d_sql(table: str, group_expr: str, value_col: str) -> str:
    return f"""
WITH cdg AS (
  SELECT CAST({group_expr} AS INT) AS g,
         CAST(COUNT(*) AS DOUBLE) AS n, SUM({value_col}) AS s,
         SUM({value_col} * {value_col}) AS s2
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
),
cda AS (
  SELECT SUM(CASE WHEN g = 0 THEN n END) AS n0,
         SUM(CASE WHEN g = 0 THEN s END) AS s0,
         SUM(CASE WHEN g = 0 THEN s2 END) AS q0,
         SUM(CASE WHEN g = 1 THEN n END) AS n1,
         SUM(CASE WHEN g = 1 THEN s END) AS s1,
         SUM(CASE WHEN g = 1 THEN s2 END) AS q1
  FROM cdg
),
cdd AS (
  SELECT n0, n1, s1 / n1 - s0 / n0 AS md,
         SQRT(((q0 - n0 * (s0 / n0) * (s0 / n0))
               + (q1 - n1 * (s1 / n1) * (s1 / n1)))
              / (n0 + n1 - 2.0)) AS sp
  FROM cda
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       ROUND(md, 6) + 0.0 AS mean_diff,
       ROUND(sp, 6) + 0.0 AS pooled_sd,
       ROUND(md / sp, 6) + 0.0 AS d,
       ROUND(md / sp * (1.0 - 3.0 / (4.0 * (n0 + n1) - 9.0)), 6) + 0.0
         AS hedges_g
FROM cdd
"""


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-equality test (k groups)
# ---------------------------------------------------------------------------

def brown_forsythe(df: DataFrame, group_col: str, value_col: str
                   ) -> DataFrame:
    """Brown-Forsythe test of variance equality across k groups: the
    one-way ANOVA F computed on ``z = |v − median_g|`` — the robust
    Levene variant (median centers, so heavy tails don't masquerade as
    variance differences). A mean test says the groups' centers agree;
    this says their SPREADS do — the other half of a drift audit.

    Shape: per-group medians from per-group distinct-value histograms
    (one (g, v) hash agg + a cumulative window partitioned by group —
    alphabet-sized per group, never a raw sort), broadcast back onto
    the facts for the |v − med| pass, then the standard SSB/SSW fold
    at group cardinality. Two fact scans total; the median is the
    lower median (cum ≥ ⌈n_g/2⌉), identically in both engines.
    """
    from pyspark.sql import Window as _W
    base = (df.select(F.col(group_col).alias("grp"),
                      F.col(value_col).alias("v"))
            .filter(F.col("v").isNotNull() & F.col("grp").isNotNull()))
    h = base.groupBy("grp", "v").agg(F.count("*").cast("double")
                                     .alias("c"))
    wg = _W.partitionBy("grp").orderBy("v") \
        .rowsBetween(_W.unboundedPreceding, 0)
    wall = _W.partitionBy("grp")
    cum = (h.withColumn("cum", F.sum("c").over(wg))
           .withColumn("ng", F.sum("c").over(wall)))
    med = (cum.filter(F.col("cum") >= F.ceil(F.col("ng") / 2.0))
           .groupBy("grp").agg(F.min("v").alias("med")))
    z = (base.join(F.broadcast(med), "grp")
         .select("grp", F.abs(F.col("v") - F.col("med")).alias("z")))
    g = (z.groupBy("grp")
         .agg(F.count("*").cast("double").alias("n"),
              F.sum("z").alias("s"),
              F.sum(F.col("z") * F.col("z")).alias("s2")))
    agg = g.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("n").alias("n"),
        F.sum("s").alias("ts"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sgm"),
        F.sum("s2").alias("ts2"))
    ssb = F.col("sgm") - F.col("ts") * F.col("ts") / F.col("n")
    ssw = F.col("ts2") - F.col("sgm")
    fstat = (ssb / (F.col("k") - 1.0)) / (ssw / (F.col("n") - F.col("k")))
    return agg.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        _r6(ssb).alias("ssb"),
        _r6(ssw).alias("ssw"),
        _r6(fstat).alias("f"))


def brown_forsythe_sql(table: str, group_col: str, value_col: str
                       ) -> str:
    return f"""
WITH bfb AS (
  SELECT {group_col} AS grp, {value_col} AS v
  FROM {table}
  WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL
),
bfh AS (
  SELECT grp, v, CAST(COUNT(*) AS DOUBLE) AS c
  FROM bfb GROUP BY 1, 2
),
bfc AS (
  SELECT grp, v,
         SUM(c) OVER (PARTITION BY grp ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(c) OVER (PARTITION BY grp) AS ng
  FROM bfh
),
bfm AS (
  SELECT grp, MIN(v) AS med FROM bfc
  WHERE cum >= CEIL(ng / 2.0) GROUP BY grp
),
bfz AS (
  SELECT bfb.grp, ABS(bfb.v - bfm.med) AS z
  FROM bfb JOIN bfm ON bfb.grp = bfm.grp
),
bfg AS (
  SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n, SUM(z) AS s,
         SUM(z * z) AS s2
  FROM bfz GROUP BY grp
),
bfa AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(n) AS n, SUM(s) AS ts,
         SUM(s * s / n) AS sgm, SUM(s2) AS ts2
  FROM bfg
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       ROUND(sgm - ts * ts / n, 6) + 0.0 AS ssb,
       ROUND(ts2 - sgm, 6) + 0.0 AS ssw,
       ROUND(((sgm - ts * ts / n) / (k - 1.0))
             / ((ts2 - sgm) / (n - k)), 6) + 0.0 AS f
FROM bfa
"""


# ---------------------------------------------------------------------------
# CUPED variance-reduced difference-in-means
# ---------------------------------------------------------------------------

def cuped(df: DataFrame, group_expr: str, metric_col: str,
          covariate_expr: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data): adjust
    the metric with a pre-period covariate, ``y' = y − θ(x − x̄)`` with
    ``θ = cov(x, y)/var(x)`` estimated on the POOLED sample (the
    standard choice — θ from the pooled sample keeps the adjustment
    unbiased under randomization), then read out the raw and adjusted
    difference-in-means, the variance-reduction factor
    ``1 − var(y')/var(y)`` (≈ ρ², the whole point: the same experiment
    decides in 1/(1−ρ²) fewer samples), and the adjusted Welch-style z.

    Shape: ONE hash agg to per-group joint moments (n, Σy, Σy², Σx,
    Σx², Σxy), a 1-row conditional fold — nothing heavier than the
    Welch t it upgrades. Adjusted group variances come from the moment
    identity ``var(y − θx) = var_y + θ²·var_x − 2θ·cov`` per group.
    """
    g = (df.select(F.expr(group_expr).cast("int").alias("g"),
                   F.col(metric_col).alias("y"),
                   F.expr(covariate_expr).alias("x"))
         .filter(F.col("y").isNotNull() & F.col("x").isNotNull())
         .groupBy("g")
         .agg(F.count("*").cast("double").alias("n"),
              F.sum("y").alias("sy"),
              F.sum(F.col("y") * F.col("y")).alias("syy"),
              F.sum("x").alias("sx"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("x") * F.col("y")).alias("sxy")))
    a = g.agg(*[
        F.sum(F.when(F.col("g") == i, F.col(c))).alias(f"{c}{i}")
        for i in (0, 1)
        for c in ("n", "sy", "syy", "sx", "sxx", "sxy")])
    n = F.col("n0") + F.col("n1")
    sy = F.col("sy0") + F.col("sy1")
    syy = F.col("syy0") + F.col("syy1")
    sx = F.col("sx0") + F.col("sx1")
    sxx = F.col("sxx0") + F.col("sxx1")
    sxy = F.col("sxy0") + F.col("sxy1")
    xbar = sx / n
    theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    var_y = (syy - sy * sy / n) / n

    def gstats(i):
        ni = F.col(f"n{i}")
        my = F.col(f"sy{i}") / ni
        mx = F.col(f"sx{i}") / ni
        vy = F.col(f"syy{i}") / ni - my * my
        vx = F.col(f"sxx{i}") / ni - mx * mx
        cv = F.col(f"sxy{i}") / ni - mx * my
        adj_mean = my - theta * (mx - xbar)
        adj_var = (vy + theta * theta * vx - 2.0 * theta * cv) \
            * (ni / (ni - 1.0))
        return ni, my, adj_mean, adj_var

    n0, my0, am0, av0 = gstats(0)
    n1, my1, am1, av1 = gstats(1)
    # pooled adjusted variance for the reduction readout
    var_adj = ((F.col("syy0") + F.col("syy1")) / n
               - (sy / n) * (sy / n)
               + theta * theta * (sxx / n - xbar * xbar)
               - 2.0 * theta * (sxy / n - xbar * sy / n))
    z = (am1 - am0) / F.sqrt(av0 / n0 + av1 / n1)
    return a.select(
        n0.cast("long").alias("n0"),
        n1.cast("long").alias("n1"),
        _r6(theta).alias("theta"),
        _r6(my1 - my0).alias("diff_raw"),
        _r6(am1 - am0).alias("diff_adj"),
        _r6(1.0 - var_adj / var_y).alias("var_reduction"),
        _r6(z).alias("z_adj"))


def cuped_sql(table: str, group_expr: str, metric_col: str,
              covariate_expr: str) -> str:
    return f"""
WITH cpg AS (
  SELECT CAST({group_expr} AS INT) AS g,
         CAST(COUNT(*) AS DOUBLE) AS n,
         SUM({metric_col}) AS sy,
         SUM({metric_col} * {metric_col}) AS syy,
         SUM({covariate_expr}) AS sx,
         SUM(({covariate_expr}) * ({covariate_expr})) AS sxx,
         SUM(({covariate_expr}) * {metric_col}) AS sxy
  FROM {table}
  WHERE {metric_col} IS NOT NULL AND ({covariate_expr}) IS NOT NULL
  GROUP BY 1
),
cpa AS (
  SELECT SUM(CASE WHEN g = 0 THEN n END) AS n0,
         SUM(CASE WHEN g = 0 THEN sy END) AS sy0,
         SUM(CASE WHEN g = 0 THEN syy END) AS syy0,
         SUM(CASE WHEN g = 0 THEN sx END) AS sx0,
         SUM(CASE WHEN g = 0 THEN sxx END) AS sxx0,
         SUM(CASE WHEN g = 0 THEN sxy END) AS sxy0,
         SUM(CASE WHEN g = 1 THEN n END) AS n1,
         SUM(CASE WHEN g = 1 THEN sy END) AS sy1,
         SUM(CASE WHEN g = 1 THEN syy END) AS syy1,
         SUM(CASE WHEN g = 1 THEN sx END) AS sx1,
         SUM(CASE WHEN g = 1 THEN sxx END) AS sxx1,
         SUM(CASE WHEN g = 1 THEN sxy END) AS sxy1
  FROM cpg
),
cpt AS (
  SELECT *,
         n0 + n1 AS n, sy0 + sy1 AS sy, syy0 + syy1 AS syy,
         sx0 + sx1 AS sx, sxx0 + sxx1 AS sxx, sxy0 + sxy1 AS sxy
  FROM cpa
),
cpd AS (
  SELECT *,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
         sx / n AS xbar,
         (syy - sy * sy / n) / n AS var_y
  FROM cpt
),
cpe AS (
  SELECT *,
         sy0 / n0 AS my0, sy1 / n1 AS my1,
         sy0 / n0 - theta * (sx0 / n0 - xbar) AS am0,
         sy1 / n1 - theta * (sx1 / n1 - xbar) AS am1,
         ((syy0 / n0 - (sy0 / n0) * (sy0 / n0))
          + theta * theta * (sxx0 / n0 - (sx0 / n0) * (sx0 / n0))
          - 2.0 * theta * (sxy0 / n0 - (sx0 / n0) * (sy0 / n0)))
           * (n0 / (n0 - 1.0)) AS av0,
         ((syy1 / n1 - (sy1 / n1) * (sy1 / n1))
          + theta * theta * (sxx1 / n1 - (sx1 / n1) * (sx1 / n1))
          - 2.0 * theta * (sxy1 / n1 - (sx1 / n1) * (sy1 / n1)))
           * (n1 / (n1 - 1.0)) AS av1,
         (syy / n - (sy / n) * (sy / n)
          + theta * theta * (sxx / n - xbar * xbar)
          - 2.0 * theta * (sxy / n - xbar * sy / n)) AS var_adj
  FROM cpd
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       ROUND(theta, 6) + 0.0 AS theta,
       ROUND(my1 - my0, 6) + 0.0 AS diff_raw,
       ROUND(am1 - am0, 6) + 0.0 AS diff_adj,
       ROUND(1.0 - var_adj / var_y, 6) + 0.0 AS var_reduction,
       ROUND((am1 - am0) / SQRT(av0 / n0 + av1 / n1), 6) + 0.0 AS z_adj
FROM cpe
"""


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test (paired samples)
# ---------------------------------------------------------------------------

def wilcoxon_signed_rank(df: DataFrame, a_expr: str, b_expr: str
                         ) -> DataFrame:
    """Wilcoxon signed-rank test for PAIRED continuous measurements —
    the nonparametric complement to the paired t: rank the nonzero
    |a − b| differences, sum the ranks of the positive ones (W⁺), and
    read the large-sample z with the tie correction
    ``σ² = n(n+1)(2n+1)/24 − Σ(t³ − t)/48`` (zeros dropped, the
    Wilcoxon convention). Completes the paired family: McNemar for
    binary decisions, Bland-Altman for agreement magnitude, this for
    direction.

    Shape: the same midrank-from-histogram scaffold as
    `mann_whitney_u` — one hash agg to the distinct-|d| histogram
    (with per-value positive counts riding along), one cumulative
    window over the value alphabet, a 1-row readout. Raw differences
    are never rank-sorted.
    """
    from satellitetools_spark.operators.cumsum import prefix_sums
    d = (F.expr(a_expr) - F.expr(b_expr))
    h = (df.select(d.alias("d"))
         .filter(F.col("d").isNotNull() & (F.col("d") != 0.0))
         .select(F.abs(F.col("d")).alias("ad"),
                 (F.col("d") > 0).cast("double").alias("pos"))
         .groupBy("ad")
         .agg(F.count("*").cast("double").alias("t"),
              F.sum("pos").alias("tp")))
    # two-level scan over the |d| alphabet (see cumsum.prefix_sums)
    cum = (prefix_sums(h, [F.col("ad").asc()], ["t"])
           .withColumn("below", F.col("cum_t") - F.col("t")))
    mid = F.col("below") + (F.col("t") + 1.0) / 2.0
    agg = cum.agg(
        F.sum("t").alias("n"),
        F.sum(F.col("tp") * mid).alias("wplus"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .alias("tie3"))
    n = F.col("n")
    mu = n * (n + 1.0) / 4.0
    var = n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - F.col("tie3") / 48.0
    out = agg.select(
        n.cast("long").alias("n_nonzero"),
        _r6(F.col("wplus")).alias("w_plus"),
        _r6((F.col("wplus") - mu) / F.sqrt(var)).alias("z"))
    return out.withColumn("p_approx",
                          _r6(F.expr(_WSR_P_FMT.format(z="ABS(z)"))))


# the shared A&S erf polynomial (same constants as modeleval's), local
# copy so inference.py stays importable without modeleval
_WSR_ERF = ("(1.0 - (((((1.061405429 * (1.0 / (1.0 + 0.3275911 * ({z})))"
            " - 1.453152027) * (1.0 / (1.0 + 0.3275911 * ({z})))"
            " + 1.421413741) * (1.0 / (1.0 + 0.3275911 * ({z})))"
            " - 0.284496736) * (1.0 / (1.0 + 0.3275911 * ({z})))"
            " + 0.254829592) * (1.0 / (1.0 + 0.3275911 * ({z})))"
            " * EXP(-(({z}) * ({z})))))")
_WSR_P_FMT = ("(1.0 - " + _WSR_ERF.format(
    z="(({z}) / 1.4142135623730951)") + ")").replace("{{", "{").replace(
        "}}", "}")


def wilcoxon_signed_rank_sql(table: str, a_expr: str, b_expr: str
                             ) -> str:
    p = _WSR_P_FMT.format(z="ABS(z)")
    return f"""
WITH wsh AS (
  SELECT ABS(({a_expr}) - ({b_expr})) AS ad,
         CAST(({a_expr}) - ({b_expr}) > 0 AS DOUBLE) AS pos
  FROM {table}
  WHERE (({a_expr}) - ({b_expr})) IS NOT NULL
    AND ({a_expr}) - ({b_expr}) <> 0.0
),
wsg AS (
  SELECT ad, CAST(COUNT(*) AS DOUBLE) AS t, SUM(pos) AS tp
  FROM wsh GROUP BY ad
),
wsc AS (
  SELECT t, tp,
         COALESCE(SUM(t) OVER (ORDER BY ad
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
           AS below
  FROM wsg
),
wsa AS (
  SELECT SUM(t) AS n, SUM(tp * (below + (t + 1.0) / 2.0)) AS wplus,
         SUM(t * t * t - t) AS tie3
  FROM wsc
),
wsz AS (
  SELECT CAST(n AS BIGINT) AS n_nonzero,
         ROUND(wplus, 6) + 0.0 AS w_plus,
         ROUND((wplus - n * (n + 1.0) / 4.0)
               / SQRT(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                      - tie3 / 48.0), 6) + 0.0 AS z
  FROM wsa
)
SELECT *, ROUND({p}, 6) + 0.0 AS p_approx FROM wsz
"""


# ---------------------------------------------------------------------------
# Covariate-balance audit: standardized mean differences
# ---------------------------------------------------------------------------

def smd_balance(df: DataFrame, treat_expr: str,
                covariate_exprs) -> DataFrame:
    """Standardized mean difference per covariate between the two
    arms of ``treat_expr`` (0/1) — the randomization-health audit run
    before trusting any A/B readout (|SMD| > 0.1 flags imbalance),
    and the balance check after propensity weighting. Also reports
    the variance ratio (second-moment balance). One row per
    covariate: (covariate, n0, n1, mean0, mean1, smd, var_ratio).

    SMD = (m₁ − m₀) / √((v₀ + v₁)/2) with sample (n−1) variances.
    Shape: ONE map-side-combined conditional aggregation computes all
    per-arm moments for every covariate in a single pass (no
    per-covariate scans); the unpivot to rows happens on the
    |covariates|-sized result. Degenerate arms (n < 2 or zero pooled
    variance) emit NULL smd. 10^12 rows → one row on the wire.
    """
    covs = list(covariate_exprs)
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    aggs = [F.sum(F.expr(f"CASE WHEN {t} = 0 THEN 1 ELSE 0 END"))
            .alias("n0"),
            F.sum(F.expr(f"CASE WHEN {t} = 1 THEN 1 ELSE 0 END"))
            .alias("n1")]
    for i, c in enumerate(covs):
        x = f"(CAST(({c}) AS DOUBLE))"
        for arm in (0, 1):
            aggs.append(F.sum(F.expr(
                f"CASE WHEN {t} = {arm} THEN {x} ELSE 0.0 END"))
                .alias(f"s{arm}_{i}"))
            aggs.append(F.sum(F.expr(
                f"CASE WHEN {t} = {arm} THEN {x} * {x} ELSE 0.0 END"))
                .alias(f"q{arm}_{i}"))
    mom = df.agg(*aggs)
    parts = []
    for i, c in enumerate(covs):
        lbl = c.replace("'", "''")
        parts.append(f"""STRUCT(
  '{lbl}' AS covariate,
  CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
  s0_{i} / n0 AS m0, s1_{i} / n1 AS m1,
  CASE WHEN n0 >= 2 THEN (q0_{i} - s0_{i} * s0_{i} / n0) / (n0 - 1) END AS v0,
  CASE WHEN n1 >= 2 THEN (q1_{i} - s1_{i} * s1_{i} / n1) / (n1 - 1) END AS v1)""")
    arr = "ARRAY(" + ", ".join(parts) + ")"
    out = (mom.select(F.explode(F.expr(arr)).alias("c"))
           .select("c.covariate", "c.n0", "c.n1",
                   _r6(F.col("c.m0")).alias("mean0"),
                   _r6(F.col("c.m1")).alias("mean1"),
                   _r6(F.expr(
                       "CASE WHEN c.v0 IS NOT NULL AND c.v1 IS NOT NULL"
                       " AND c.v0 + c.v1 > 0 THEN"
                       " (c.m1 - c.m0) / sqrt((c.v0 + c.v1) / 2.0) END"))
                   .alias("smd"),
                   _r6(F.expr(
                       "CASE WHEN c.v0 IS NOT NULL AND c.v0 > 0"
                       " THEN c.v1 / c.v0 END")).alias("var_ratio")))
    return out


def smd_balance_sql(table: str, treat_expr: str,
                    covariate_exprs) -> str:
    """DuckDB oracle: identical conditional-moment algebra, one
    UNION ALL branch per covariate over the same single-row moments."""
    covs = list(covariate_exprs)
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    cols = ["SUM(CASE WHEN {t} = 0 THEN 1 ELSE 0 END) AS n0".format(t=t),
            "SUM(CASE WHEN {t} = 1 THEN 1 ELSE 0 END) AS n1".format(t=t)]
    for i, c in enumerate(covs):
        x = f"(CAST(({c}) AS DOUBLE))"
        for arm in (0, 1):
            cols.append(f"SUM(CASE WHEN {t} = {arm} THEN {x} ELSE 0.0 END)"
                        f" AS s{arm}_{i}")
            cols.append(f"SUM(CASE WHEN {t} = {arm} THEN {x} * {x}"
                        f" ELSE 0.0 END) AS q{arm}_{i}")
    branches = []
    for i, c in enumerate(covs):
        lbl = c.replace("'", "''")
        branches.append(f"""
SELECT '{lbl}' AS covariate,
       CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       ROUND(s0_{i} / n0, 6) + 0.0 AS mean0,
       ROUND(s1_{i} / n1, 6) + 0.0 AS mean1,
       ROUND(CASE WHEN n0 >= 2 AND n1 >= 2
                  AND (q0_{i} - s0_{i} * s0_{i} / n0) / (n0 - 1)
                    + (q1_{i} - s1_{i} * s1_{i} / n1) / (n1 - 1) > 0
             THEN (s1_{i} / n1 - s0_{i} / n0)
                  / sqrt(((q0_{i} - s0_{i} * s0_{i} / n0) / (n0 - 1)
                          + (q1_{i} - s1_{i} * s1_{i} / n1) / (n1 - 1))
                         / 2.0) END, 6) + 0.0 AS smd,
       ROUND(CASE WHEN n0 >= 2
                  AND (q0_{i} - s0_{i} * s0_{i} / n0) / (n0 - 1) > 0
                  AND n1 >= 2
             THEN ((q1_{i} - s1_{i} * s1_{i} / n1) / (n1 - 1))
                  / ((q0_{i} - s0_{i} * s0_{i} / n0) / (n0 - 1))
             END, 6) + 0.0 AS var_ratio
FROM mom""")
    body = "\nUNION ALL".join(branches)
    return f"""
WITH mom AS (
  SELECT {', '.join(cols)} FROM {table}
)
{body}
"""


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------

def diff_in_diff(df: DataFrame, treat_expr: str, post_expr: str,
                 y_expr: str) -> DataFrame:
    """2×2 difference-in-differences estimator: the causal workhorse
    for staggered rollouts where randomization failed —
    ``DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)``
    with the large-sample SE from the four within-cell variances
    (√Σ v_c/n_c), the z statistic, and the normal-approximation p.
    One row: (n_00..n_11, m_00..m_11, did, se, z, p_approx).

    Shape: ONE conditional-moment aggregation computes all four cells'
    (n, Σy, Σy²) in a single pass — 12 numbers on the wire at any
    scale. Degenerate cells (n < 2) yield NULL se/z/p but still report
    the point estimate when all four means exist.
    """
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    p = f"(CASE WHEN ({post_expr}) THEN 1 ELSE 0 END)"
    y = f"(CAST(({y_expr}) AS DOUBLE))"
    aggs = []
    for ti in (0, 1):
        for pi in (0, 1):
            g = f"{t} = {ti} AND {p} = {pi}"
            aggs += [
                F.sum(F.expr(f"CASE WHEN {g} THEN 1 ELSE 0 END"))
                .alias(f"n_{ti}{pi}"),
                F.sum(F.expr(f"CASE WHEN {g} THEN {y} ELSE 0.0 END"))
                .alias(f"s_{ti}{pi}"),
                F.sum(F.expr(f"CASE WHEN {g} THEN {y} * {y} ELSE 0.0 END"))
                .alias(f"q_{ti}{pi}")]
    mom = df.agg(*aggs)
    m = {f"m_{c}": f"(s_{c} / n_{c})" for c in
         ("00", "01", "10", "11")}
    v = {c: f"((q_{c} - s_{c} * s_{c} / n_{c}) / (n_{c} - 1) / n_{c})"
         for c in ("00", "01", "10", "11")}
    did = (f"(({m['m_11']} - {m['m_10']})"
           f" - ({m['m_01']} - {m['m_00']}))")
    se = ("CASE WHEN n_00 >= 2 AND n_01 >= 2 AND n_10 >= 2 AND n_11 >= 2"
          f" THEN sqrt({v['00']} + {v['01']} + {v['10']} + {v['11']}) END")
    sel = [F.col(f"n_{c}").cast("long").alias(f"n_{c}")
           for c in ("00", "01", "10", "11")]
    sel += [_r6(F.expr(f"CASE WHEN n_{c} >= 1 THEN {m[f'm_{c}']} END"))
            .alias(f"m_{c}") for c in ("00", "01", "10", "11")]
    mom = mom.withColumn("_se", F.expr(se))
    # p is computed from the UNROUNDED z (matching the oracle), both
    # rounded only in the output projection
    sel += [_r6(F.expr(f"CASE WHEN n_00 >= 1 AND n_01 >= 1 AND"
                       f" n_10 >= 1 AND n_11 >= 1 THEN {did} END"))
            .alias("did"),
            _r6(F.col("_se")).alias("se"),
            _r6(F.expr(f"CASE WHEN _se > 0 THEN {did} / _se END"))
            .alias("z"),
            _r6(F.expr(
                f"CASE WHEN _se > 0 THEN "
                + _WSR_P_FMT.format(z=f"ABS(({did}) / _se)") + " END"))
            .alias("p_approx")]
    return mom.select(*sel)


def diff_in_diff_sql(table: str, treat_expr: str, post_expr: str,
                     y_expr: str) -> str:
    """DuckDB oracle: identical conditional-moment algebra and shared
    erf string."""
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    p = f"(CASE WHEN ({post_expr}) THEN 1 ELSE 0 END)"
    y = f"(CAST(({y_expr}) AS DOUBLE))"
    cols = []
    for ti in (0, 1):
        for pi in (0, 1):
            g = f"{t} = {ti} AND {p} = {pi}"
            cols += [
                f"SUM(CASE WHEN {g} THEN 1 ELSE 0 END) AS n_{ti}{pi}",
                f"SUM(CASE WHEN {g} THEN {y} ELSE 0.0 END) AS s_{ti}{pi}",
                f"SUM(CASE WHEN {g} THEN {y} * {y} ELSE 0.0 END)"
                f" AS q_{ti}{pi}"]
    m = {c: f"(s_{c} / n_{c})" for c in ("00", "01", "10", "11")}
    v = {c: f"((q_{c} - s_{c} * s_{c} / n_{c}) / (n_{c} - 1) / n_{c})"
         for c in ("00", "01", "10", "11")}
    did = f"(({m['11']} - {m['10']}) - ({m['01']} - {m['00']}))"
    se = ("CASE WHEN n_00 >= 2 AND n_01 >= 2 AND n_10 >= 2 AND n_11 >= 2"
          f" THEN sqrt({v['00']} + {v['01']} + {v['10']} + {v['11']}) END")
    msel = ", ".join(
        f"ROUND(CASE WHEN n_{c} >= 1 THEN {m[c]} END, 6) + 0.0 AS m_{c}"
        for c in ("00", "01", "10", "11"))
    nsel = ", ".join(f"CAST(n_{c} AS BIGINT) AS n_{c}"
                     for c in ("00", "01", "10", "11"))
    return f"""
WITH mom AS (SELECT {', '.join(cols)} FROM {table}),
ext AS (SELECT *, {se} AS _se FROM mom)
SELECT {nsel}, {msel},
       ROUND(CASE WHEN n_00 >= 1 AND n_01 >= 1 AND n_10 >= 1
                  AND n_11 >= 1 THEN {did} END, 6) + 0.0 AS did,
       ROUND(_se, 6) + 0.0 AS se,
       ROUND(CASE WHEN _se > 0 THEN {did} / _se END, 6) + 0.0 AS z,
       ROUND(CASE WHEN _se > 0 THEN
             {_WSR_P_FMT.format(z=f"ABS(({did}) / _se)")} END, 6) + 0.0
         AS p_approx
FROM ext
"""


# ---------------------------------------------------------------------------
# Exact trimmed / winsorized means from the distinct-value histogram
# ---------------------------------------------------------------------------

def trimmed_stats(df: DataFrame, value_expr: str,
                  by_expr: str | None = None,
                  trim: float = 0.05) -> DataFrame:
    """Exact trimmed and winsorized means per group — the robust
    location estimates for metric pipelines where MAD flags outliers
    but the readout still needs a mean-like number (revenue per user
    with whales clipped). ``k = ⌊trim·n⌋`` observations are dropped
    (trimmed) or clamped to the boundary order statistics
    (winsorized) at EACH end. Output: (grp, n, k, mean, trimmed_mean,
    winsor_mean, v_lo, v_hi) where v_lo/v_hi are the rank-(k+1) and
    rank-(n−k) values.

    Shape: the corpus reduces to the per-group DISTINCT-VALUE
    histogram with ONE map-combined hash agg; one cumulative window
    over that alphabet-sized table assigns each value its rank span;
    partial overlap with the trimmed tails becomes a per-value weight
    ``clamp(min(cum_end, n−k) − max(cum_start, k), 0, n_v)`` — so the
    trimmed mean is EXACT (not bin-approximate) with no sort of raw
    rows anywhere. 10^12 rows → |distinct values| per group on the
    wire, same discipline as the rank tests.
    """
    g = F.expr(by_expr) if by_expr else F.lit("all")
    hist = (df.select(g.alias("grp"),
                      F.expr(value_expr).cast("double").alias("v"))
            .filter(F.col("v").isNotNull())
            .groupBy("grp", "v")
            .agg(F.count("*").cast("double").alias("nv")))
    # per-group cumulative + group totals via the grouped two-level
    # scan (few groups × huge value alphabets — the regime where a
    # group-partitioned window single-threads each group)
    from satellitetools_spark.operators.cumsum import \
        grouped_prefix_sums
    cum = (grouped_prefix_sums(hist, ["grp"], [F.col("v").asc()],
                               ["nv"])
           .withColumnRenamed("cum_nv", "cum_end")
           .withColumnRenamed("tot_nv", "n")
           .withColumn("cum_start", F.col("cum_end") - F.col("nv"))
           .withColumn("k", F.floor(F.lit(float(trim)) * F.col("n"))))
    wt = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum_end"), F.col("n") - F.col("k"))
        - F.greatest(F.col("cum_start"), F.col("k")))
    cum = cum.withColumn("wt", wt)
    return (cum.groupBy("grp")
            .agg(F.max("n").cast("long").alias("n"),
                 F.max("k").cast("long").alias("_k"),
                 F.sum(F.col("nv") * F.col("v")).alias("_s"),
                 F.sum(F.col("wt") * F.col("v")).alias("_ts"),
                 F.sum("wt").alias("_tw"),
                 F.min(F.when(F.col("cum_end") >= F.col("k") + 1,
                              F.col("v"))).alias("_vlo"),
                 F.min(F.when(F.col("cum_end") >= F.col("n") - F.col("k"),
                              F.col("v"))).alias("_vhi"))
            .select("grp", "n", F.col("_k").alias("k"),
                    _r6(F.col("_s") / F.col("n")).alias("mean"),
                    _r6(F.expr("CASE WHEN _tw > 0 THEN _ts / _tw END"))
                    .alias("trimmed_mean"),
                    _r6((F.col("_ts") + F.col("_k")
                         * (F.col("_vlo") + F.col("_vhi")))
                        / F.col("n")).alias("winsor_mean"),
                    _r6(F.col("_vlo")).alias("v_lo"),
                    _r6(F.col("_vhi")).alias("v_hi")))


def trimmed_stats_sql(table: str, value_expr: str,
                      by_expr: str | None = None,
                      trim: float = 0.05) -> str:
    """DuckDB oracle: identical histogram, cumulative window, and
    partial-weight algebra."""
    g = by_expr if by_expr else "'all'"
    return f"""
WITH hist AS (
  SELECT {g} AS grp, CAST(({value_expr}) AS DOUBLE) AS v,
         COUNT(*) AS nv
  FROM {table}
  WHERE ({value_expr}) IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT *,
         SUM(nv) OVER (PARTITION BY grp ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_end,
         SUM(nv) OVER (PARTITION BY grp) AS n
  FROM hist
),
ext AS (
  SELECT *, cum_end - nv AS cum_start,
         CAST(FLOOR({float(trim)!r} * n) AS BIGINT) AS k,
         GREATEST(0, LEAST(cum_end, n - CAST(FLOOR({float(trim)!r} * n)
                                             AS BIGINT))
                  - GREATEST(cum_end - nv,
                             CAST(FLOOR({float(trim)!r} * n) AS BIGINT)))
           AS wt
  FROM cum
)
SELECT grp, CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(k) AS BIGINT) AS k,
       ROUND(SUM(nv * v) / MAX(n), 6) + 0.0 AS mean,
       ROUND(CASE WHEN SUM(wt) > 0
                  THEN SUM(wt * v) / SUM(wt) END, 6) + 0.0
         AS trimmed_mean,
       ROUND((SUM(wt * v) + MAX(k)
              * (MIN(CASE WHEN cum_end >= k + 1 THEN v END)
                 + MIN(CASE WHEN cum_end >= n - k THEN v END))) / MAX(n),
             6) + 0.0 AS winsor_mean,
       ROUND(MIN(CASE WHEN cum_end >= k + 1 THEN v END), 6) + 0.0
         AS v_lo,
       ROUND(MIN(CASE WHEN cum_end >= n - k THEN v END), 6) + 0.0
         AS v_hi
FROM ext GROUP BY grp
"""


# ---------------------------------------------------------------------------
# Rank-based inverse normal transform (INT)
# ---------------------------------------------------------------------------

# Acklam's inverse-normal-CDF rational approximation (|rel err| < 1.15e-9)
# rendered as ONE shared expression string for the central region with
# tail branches — both engines evaluate the identical text.
_INV_NORM_CENTRAL = (
    "((((((-3.969683028665376e+01 * {q2} + 2.209460984245205e+02) * {q2}"
    " - 2.759285104469687e+02) * {q2} + 1.383577518672690e+02) * {q2}"
    " - 3.066479806614716e+01) * {q2} + 2.506628277459239e+00) * {q}"
    " / (((((-5.447609879822406e+01 * {q2} + 1.615858368580409e+02)"
    " * {q2} - 1.556989798598866e+02) * {q2} + 6.680131188771972e+01)"
    " * {q2} - 1.328068155288572e+01) * {q2} + 1.0))")
_INV_NORM_TAIL = (
    "((((((-7.784894002430293e-03 * {t} - 3.223964580411365e-01) * {t}"
    " - 2.400758277161838e+00) * {t} - 2.549732539343734e+00) * {t}"
    " + 4.374664141464968e+00) * {t} + 2.938163982698783e+00)"
    " / ((((7.784695709041462e-03 * {t}"
    " + 3.224671290700398e-01) * {t} + 2.445134137142996e+00) * {t}"
    " + 3.754408661907416e+00) * {t} + 1.0))")


def _inv_norm_fmt(p: str) -> str:
    """Piecewise Acklam inverse Φ⁻¹({p}) as a shared formula string."""
    q = f"(({p}) - 0.5)"
    q2 = f"({q} * {q})"
    tl = f"sqrt(-2.0 * ln(({p})))"
    tu = f"sqrt(-2.0 * ln(1.0 - ({p})))"
    central = _INV_NORM_CENTRAL.format(q=q, q2=q2)
    lo = "(" + _INV_NORM_TAIL.format(t=tl) + ")"
    hi = "(-" + _INV_NORM_TAIL.format(t=tu) + ")"
    return (f"(CASE WHEN ({p}) < 0.02425 THEN {lo}"
            f" WHEN ({p}) > 0.97575 THEN {hi}"
            f" ELSE {central} END)")


def rank_inverse_normal(df: DataFrame, value_expr: str,
                        by_expr: str | None = None) -> DataFrame:
    """Rank-based inverse normal transform (Blom-style): each value
    maps to ``Φ⁻¹((midrank − 0.5) / n)`` within its group — the
    standard normalization for heavy-tailed metrics before parametric
    modeling (genomics INT, feature scaling robust to outliers).
    Ties share their MIDRANK, so equal inputs get equal outputs.
    Returns one row per distinct value: (grp, v, n_v, midrank, z).

    Shape: the corpus reduces to the per-group distinct-value
    histogram with ONE hash agg; a cumulative window over that
    alphabet-sized table assigns midranks; Φ⁻¹ is the Acklam rational
    approximation rendered as ONE shared formula string into both
    engines — no scipy, no UDF, pure codegen. 10^12 rows → |distinct
    values| rows per group on the wire.
    """
    g = F.expr(by_expr) if by_expr else F.lit("all")
    hist = (df.select(g.alias("grp"),
                      F.expr(value_expr).cast("double").alias("v"))
            .filter(F.col("v").isNotNull())
            .groupBy("grp", "v")
            .agg(F.count("*").cast("double").alias("nv")))
    # grouped two-level scan (see trimmed_stats) — per-group midranks
    # without single-threading a group's value alphabet
    from satellitetools_spark.operators.cumsum import \
        grouped_prefix_sums
    cum = (grouped_prefix_sums(hist, ["grp"], [F.col("v").asc()],
                               ["nv"])
           .withColumnRenamed("cum_nv", "cum_end")
           .withColumnRenamed("tot_nv", "n")
           .withColumn("midrank",
                       F.col("cum_end") - (F.col("nv") - 1) / 2.0))
    p = "((midrank - 0.5) / n)"
    return (cum.select(
        "grp", "v", F.col("nv").cast("long").alias("n_v"),
        _r6(F.col("midrank")).alias("midrank"),
        _r6(F.expr(_inv_norm_fmt(p))).alias("z")))


def rank_inverse_normal_sql(table: str, value_expr: str,
                            by_expr: str | None = None,
                            offset: float = 0.5) -> str:
    """DuckDB oracle: identical histogram, midranks, and the same
    Acklam formula string."""
    g = by_expr if by_expr else "'all'"
    p = f"((midrank - {float(offset)!r}) / n)"
    return f"""
WITH hist AS (
  SELECT {g} AS grp, CAST(({value_expr}) AS DOUBLE) AS v,
         COUNT(*) AS nv
  FROM {table} WHERE ({value_expr}) IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT *,
         SUM(nv) OVER (PARTITION BY grp ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_end,
         SUM(nv) OVER (PARTITION BY grp) AS n
  FROM hist
),
mid AS (SELECT *, cum_end - (nv - 1) / 2.0 AS midrank FROM cum)
SELECT grp, v, CAST(nv AS BIGINT) AS n_v,
       ROUND(midrank, 6) + 0.0 AS midrank,
       ROUND({_inv_norm_fmt(p)}, 6) + 0.0 AS z
FROM mid
"""


# ---------------------------------------------------------------------------
# mSPRT always-valid sequential A/B monitor
# ---------------------------------------------------------------------------

def msprt_monitor(df: DataFrame, treat_expr: str, value_expr: str,
                  tau: float = 1.0) -> DataFrame:
    """Mixture sequential probability ratio test (normal mixture,
    prior scale ``tau``) over DAILY increments of a two-arm
    experiment: per day, the cumulative mean difference, the mixture
    likelihood ratio Λ_t, and the ALWAYS-VALID p-value
    ``p_t = min(1, 1/max_{s≤t} Λ_s)`` — the readout that lets an A/B
    dashboard be peeked at continuously without inflating false
    positives (the fixed-horizon z-test `ab_ztest` is only valid once).
    Λ uses the standard two-sample normal form with the pooled
    variance estimated from ALL data (plug-in, as deployed in
    practice). Output: one row per day.

    Shape: daily (arm, n, Σy, Σy²) increments via ONE hash agg at
    day-cardinality; cumulative sums, Λ, and the running max are
    windows over the DAY table only (≤ a few thousand rows for any
    real experiment) — the raw stream is touched once. The same
    cumulative algebra renders into the DuckDB twin.
    """
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    y = f"(CAST(({value_expr}) AS DOUBLE))"
    day = F.date_trunc("day", F.col("ts")).alias("day")
    daily = (df.groupBy(day)
             .agg(*[F.sum(F.expr(f"CASE WHEN {t} = {a} THEN 1"
                                 f" ELSE 0 END")).alias(f"n{a}")
                    for a in (0, 1)],
                  *[F.sum(F.expr(f"CASE WHEN {t} = {a} THEN {y}"
                                 f" ELSE 0.0 END")).alias(f"s{a}")
                    for a in (0, 1)],
                  F.sum(F.expr(f"{y} * {y}")).alias("qq"),
                  F.sum(F.expr(y)).alias("ss"),
                  F.count("*").alias("nn")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        *[F.sum(c).over(w).alias(f"c{c}")
          for c in ("n0", "n1", "s0", "s1", "qq", "ss", "nn")])
    tot = daily.agg(
        ((F.sum("qq") - F.sum("ss") * F.sum("ss") / F.sum("nn"))
         / (F.sum("nn") - 1)).alias("var_hat"))
    t2 = float(tau) * float(tau)
    lam = ("CASE WHEN cn0 > 0 AND cn1 > 0 THEN "
           "sqrt(2.0 * var_hat * (CAST(1 AS DOUBLE)/cn0 + CAST(1 AS DOUBLE)/cn1) "
           " / (2.0 * var_hat * (CAST(1 AS DOUBLE)/cn0 + CAST(1 AS DOUBLE)/cn1) + 2.0 * {t2}))"
           " * exp( pow(cs1/cn1 - cs0/cn0, 2) * {t2}"
           "   / ((2.0 * var_hat * (CAST(1 AS DOUBLE)/cn0 + CAST(1 AS DOUBLE)/cn1))"
           "      * (2.0 * var_hat * (CAST(1 AS DOUBLE)/cn0 + CAST(1 AS DOUBLE)/cn1) + 2.0 * {t2}))"
           " ) END").format(t2=repr(t2))
    wmax = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    out = (cum.crossJoin(F.broadcast(tot))
           .withColumn("_lam", F.expr(lam))
           .withColumn("_lmax", F.max("_lam").over(wmax)))
    return out.select(
        "day", F.col("cn0").cast("long").alias("n0"),
        F.col("cn1").cast("long").alias("n1"),
        _r6(F.expr("CASE WHEN cn0 > 0 AND cn1 > 0"
                   " THEN cs1/cn1 - cs0/cn0 END")).alias("diff"),
        _r6(F.col("_lam")).alias("lam"),
        _r6(F.expr("CASE WHEN _lmax IS NOT NULL THEN"
                   " LEAST(1.0, 1.0 / _lmax) END")).alias("p_always_valid"))


def msprt_monitor_sql(table: str, treat_expr: str, value_expr: str,
                      ts_col: str = "ts", tau: float = 1.0) -> str:
    """DuckDB oracle: identical daily increments, cumulative windows,
    and mixture-LR algebra."""
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    y = f"(CAST(({value_expr}) AS DOUBLE))"
    t2 = repr(float(tau) * float(tau))
    lam = ("CASE WHEN cn0 > 0 AND cn1 > 0 THEN "
           "sqrt(2.0 * var_hat * (CAST(1 AS DOUBLE)/cn0 + CAST(1 AS DOUBLE)/cn1) "
           f" / (2.0 * var_hat * (CAST(1 AS DOUBLE)/cn0 + CAST(1 AS DOUBLE)/cn1) + 2.0 * {t2}))"
           " * exp( pow(cs1/cn1 - cs0/cn0, 2) * " + t2 +
           "   / ((2.0 * var_hat * (CAST(1 AS DOUBLE)/cn0 + CAST(1 AS DOUBLE)/cn1))"
           f"      * (2.0 * var_hat * (CAST(1 AS DOUBLE)/cn0 + CAST(1 AS DOUBLE)/cn1) + 2.0 * {t2}))"
           " ) END")
    return f"""
WITH daily AS (
  SELECT date_trunc('day', {ts_col}) AS day,
         SUM(CASE WHEN {t} = 0 THEN 1 ELSE 0 END) AS n0,
         SUM(CASE WHEN {t} = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN {t} = 0 THEN {y} ELSE 0.0 END) AS s0,
         SUM(CASE WHEN {t} = 1 THEN {y} ELSE 0.0 END) AS s1,
         SUM({y} * {y}) AS qq, SUM({y}) AS ss, COUNT(*) AS nn
  FROM {table} GROUP BY 1
),
tot AS (
  SELECT (SUM(qq) - SUM(ss) * SUM(ss) / SUM(nn)) / (SUM(nn) - 1)
           AS var_hat
  FROM daily
),
cum AS (
  SELECT day,
         SUM(n0) OVER w AS cn0, SUM(n1) OVER w AS cn1,
         SUM(s0) OVER w AS cs0, SUM(s1) OVER w AS cs1
  FROM daily
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
lamt AS (
  SELECT day, cn0, cn1, cs0, cs1, {lam} AS _lam
  FROM cum CROSS JOIN tot
),
mx AS (
  SELECT *, MAX(_lam) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _lmax
  FROM lamt
)
SELECT day, CAST(cn0 AS BIGINT) AS n0, CAST(cn1 AS BIGINT) AS n1,
       ROUND(CASE WHEN cn0 > 0 AND cn1 > 0
                  THEN cs1/cn1 - cs0/cn0 END, 6) + 0.0 AS diff,
       ROUND(_lam, 6) + 0.0 AS lam,
       ROUND(CASE WHEN _lmax IS NOT NULL
                  THEN LEAST(1.0, 1.0 / _lmax) END, 6) + 0.0
         AS p_always_valid
FROM mx
"""


# ---------------------------------------------------------------------------
# Two-arm Poisson rate-ratio test
# ---------------------------------------------------------------------------

def poisson_rate_test(df: DataFrame, treat_expr: str,
                      event_pred: str) -> DataFrame:
    """Two-arm Poisson rate-ratio test for COUNT metrics (errors per
    user, purchases per user) where the t-test's normality assumption
    is wrong: events matching ``event_pred`` are counted per arm,
    exposure is the number of distinct ``user_id`` units per arm,
    and the log rate ratio is tested with the standard
    ``SE = √(1/k₀ + 1/k₁)`` normal approximation. One row:
    (k0, k1, exp0, exp1, rate0, rate1, rate_ratio, log_rr, se, z,
    p_approx).

    Shape: ONE conditional aggregation (counts + approx-free exact
    distinct exposure via two count_distincts — at 10^12 rows swap in
    `kmv_distinct_by` if the exact distinct is itself the bottleneck);
    everything after is scalar algebra on a single row, the erf p via
    the shared formula string.
    """
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    agg = df.agg(
        F.sum(F.expr(f"CASE WHEN {t} = 0 AND ({event_pred}) THEN 1"
                     " ELSE 0 END")).alias("k0"),
        F.sum(F.expr(f"CASE WHEN {t} = 1 AND ({event_pred}) THEN 1"
                     " ELSE 0 END")).alias("k1"),
        F.expr(f"count(DISTINCT CASE WHEN {t} = 0 THEN user_id"
               " END)").alias("e0"),
        F.expr(f"count(DISTINCT CASE WHEN {t} = 1 THEN user_id"
               " END)").alias("e1"))
    lrr = "CASE WHEN k0 > 0 AND k1 > 0 AND e0 > 0 AND e1 > 0 THEN " \
          "ln((CAST(k1 AS DOUBLE) / e1) / (CAST(k0 AS DOUBLE) / e0)) END"
    se = "CASE WHEN k0 > 0 AND k1 > 0 THEN sqrt(CAST(1 AS DOUBLE)/k0 + CAST(1 AS DOUBLE)/k1) END"
    zx = f"(({lrr}) / ({se}))"
    return agg.select(
        F.col("k0").cast("long"), F.col("k1").cast("long"),
        F.col("e0").cast("long").alias("exp0"),
        F.col("e1").cast("long").alias("exp1"),
        _r6(F.expr("CASE WHEN e0 > 0 THEN CAST(k0 AS DOUBLE) / e0 END"))
        .alias("rate0"),
        _r6(F.expr("CASE WHEN e1 > 0 THEN CAST(k1 AS DOUBLE) / e1 END"))
        .alias("rate1"),
        _r6(F.expr("CASE WHEN k0 > 0 AND e0 > 0 AND e1 > 0 THEN"
                   " (CAST(k1 AS DOUBLE) / e1) / (CAST(k0 AS DOUBLE) / e0) END"))
        .alias("rate_ratio"),
        _r6(F.expr(lrr)).alias("log_rr"),
        _r6(F.expr(se)).alias("se"),
        _r6(F.expr(f"CASE WHEN ({se}) > 0 AND ({lrr}) IS NOT NULL"
                   f" THEN {zx} END")).alias("z"),
        _r6(F.expr(
            f"CASE WHEN ({se}) > 0 AND ({lrr}) IS NOT NULL THEN "
            + _WSR_P_FMT.format(z=f"ABS({zx})") + " END"))
        .alias("p_approx"))


def poisson_rate_test_sql(table: str, treat_expr: str, event_pred: str,
                          exposure_key: str = "user_id") -> str:
    """DuckDB oracle: identical conditional counts and algebra."""
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    lrr = ("CASE WHEN k0 > 0 AND k1 > 0 AND e0 > 0 AND e1 > 0 THEN "
           "ln((CAST(k1 AS DOUBLE) / e1) / (CAST(k0 AS DOUBLE) / e0)) END")
    se = "CASE WHEN k0 > 0 AND k1 > 0 THEN sqrt(CAST(1 AS DOUBLE)/k0 + CAST(1 AS DOUBLE)/k1) END"
    zx = f"(({lrr}) / ({se}))"
    return f"""
WITH agg AS (
  SELECT
    SUM(CASE WHEN {t} = 0 AND ({event_pred}) THEN 1 ELSE 0 END) AS k0,
    SUM(CASE WHEN {t} = 1 AND ({event_pred}) THEN 1 ELSE 0 END) AS k1,
    COUNT(DISTINCT CASE WHEN {t} = 0 THEN {exposure_key} END) AS e0,
    COUNT(DISTINCT CASE WHEN {t} = 1 THEN {exposure_key} END) AS e1
  FROM {table}
)
SELECT CAST(k0 AS BIGINT) AS k0, CAST(k1 AS BIGINT) AS k1,
       CAST(e0 AS BIGINT) AS exp0, CAST(e1 AS BIGINT) AS exp1,
       ROUND(CASE WHEN e0 > 0 THEN CAST(k0 AS DOUBLE) / e0 END, 6) + 0.0
         AS rate0,
       ROUND(CASE WHEN e1 > 0 THEN CAST(k1 AS DOUBLE) / e1 END, 6) + 0.0
         AS rate1,
       ROUND(CASE WHEN k0 > 0 AND e0 > 0 AND e1 > 0 THEN
             (CAST(k1 AS DOUBLE) / e1) / (CAST(k0 AS DOUBLE) / e0) END, 6) + 0.0
         AS rate_ratio,
       ROUND({lrr}, 6) + 0.0 AS log_rr,
       ROUND({se}, 6) + 0.0 AS se,
       ROUND(CASE WHEN ({se}) > 0 AND ({lrr}) IS NOT NULL
             THEN {zx} END, 6) + 0.0 AS z,
       ROUND(CASE WHEN ({se}) > 0 AND ({lrr}) IS NOT NULL THEN
             {_WSR_P_FMT.format(z=f"ABS({zx})")} END, 6) + 0.0
         AS p_approx
FROM agg
"""


# ---------------------------------------------------------------------------
# Inverse-propensity-weighted treatment effect (Hajek)
# ---------------------------------------------------------------------------

def ipw_effect(df: DataFrame, treat_expr: str, y_expr: str,
               propensity_expr: str) -> DataFrame:
    """Hájek (self-normalized) inverse-propensity-weighted average
    treatment effect for observational comparisons where a propensity
    ``e(x)`` is available (e.g. from `modeleval.logistic_fit` scores):
    ``ATE = Σ(t·y/e)/Σ(t/e) − Σ((1−t)·y/(1−e))/Σ((1−t)/(1−e))``, with
    propensities CLIPPED to [0.01, 0.99] (positivity guard — the
    standard fix for extreme weights) and the effective sample size
    per arm (Kish) reported so weight degeneracy is visible. One row:
    (n_t, n_c, ess_t, ess_c, mean_t, mean_c, ate_ipw).

    Shape: ONE conditional aggregation — eight weighted sums — at any
    scale; everything downstream is scalar algebra on one row.
    """
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    y = f"(CAST(({y_expr}) AS DOUBLE))"
    e = ("LEAST(1.0 - 0.01, GREATEST(0.01,"
         f" CAST(({propensity_expr}) AS DOUBLE)))")
    wt = f"(CASE WHEN {t} = 1 THEN 1.0 / {e} ELSE 0.0 END)"
    wc = f"(CASE WHEN {t} = 0 THEN 1.0 / (1.0 - {e}) ELSE 0.0 END)"
    agg = df.agg(
        F.sum(F.expr(t)).alias("n_t"),
        F.sum(F.expr(f"1 - {t}")).alias("n_c"),
        F.sum(F.expr(wt)).alias("sw_t"),
        F.sum(F.expr(wc)).alias("sw_c"),
        F.sum(F.expr(f"{wt} * {wt}")).alias("sw2_t"),
        F.sum(F.expr(f"{wc} * {wc}")).alias("sw2_c"),
        F.sum(F.expr(f"{wt} * {y}")).alias("swy_t"),
        F.sum(F.expr(f"{wc} * {y}")).alias("swy_c"))
    return agg.select(
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        _r6(F.expr("CASE WHEN sw2_t > 0 THEN sw_t * sw_t / sw2_t END"))
        .alias("ess_t"),
        _r6(F.expr("CASE WHEN sw2_c > 0 THEN sw_c * sw_c / sw2_c END"))
        .alias("ess_c"),
        _r6(F.expr("CASE WHEN sw_t > 0 THEN swy_t / sw_t END"))
        .alias("mean_t"),
        _r6(F.expr("CASE WHEN sw_c > 0 THEN swy_c / sw_c END"))
        .alias("mean_c"),
        _r6(F.expr("CASE WHEN sw_t > 0 AND sw_c > 0 THEN"
                   " swy_t / sw_t - swy_c / sw_c END")).alias("ate_ipw"))


def ipw_effect_sql(table: str, treat_expr: str, y_expr: str,
                   propensity_expr: str, clip: float = 0.01) -> str:
    """DuckDB oracle: identical clipped weights and folds."""
    t = f"(CASE WHEN ({treat_expr}) THEN 1 ELSE 0 END)"
    y = f"(CAST(({y_expr}) AS DOUBLE))"
    e = (f"LEAST(1.0 - {float(clip)!r}, GREATEST({float(clip)!r},"
         f" CAST(({propensity_expr}) AS DOUBLE)))")
    wt = f"(CASE WHEN {t} = 1 THEN 1.0 / {e} ELSE 0.0 END)"
    wc = f"(CASE WHEN {t} = 0 THEN 1.0 / (1.0 - {e}) ELSE 0.0 END)"
    return f"""
WITH agg AS (
  SELECT SUM({t}) AS n_t, SUM(1 - {t}) AS n_c,
         SUM({wt}) AS sw_t, SUM({wc}) AS sw_c,
         SUM({wt} * {wt}) AS sw2_t, SUM({wc} * {wc}) AS sw2_c,
         SUM({wt} * {y}) AS swy_t, SUM({wc} * {y}) AS swy_c
  FROM {table}
)
SELECT CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
       ROUND(CASE WHEN sw2_t > 0 THEN sw_t * sw_t / sw2_t END, 6)
         + 0.0 AS ess_t,
       ROUND(CASE WHEN sw2_c > 0 THEN sw_c * sw_c / sw2_c END, 6)
         + 0.0 AS ess_c,
       ROUND(CASE WHEN sw_t > 0 THEN swy_t / sw_t END, 6) + 0.0
         AS mean_t,
       ROUND(CASE WHEN sw_c > 0 THEN swy_c / sw_c END, 6) + 0.0
         AS mean_c,
       ROUND(CASE WHEN sw_t > 0 AND sw_c > 0 THEN
             swy_t / sw_t - swy_c / sw_c END, 6) + 0.0 AS ate_ipw
FROM agg
"""


# ---------------------------------------------------------------------------
# Mood's median test (k groups)
# ---------------------------------------------------------------------------

def median_test(df: DataFrame, group_expr: str,
                value_expr: str) -> DataFrame:
    """Mood's median test across k groups: does each group put the
    same fraction of mass above the GRAND median? The coarsest, most
    outlier-proof location test — the right sanity check when even
    rank tests are suspect (heavy censoring, instrument saturation).
    Output: one row per group (grp, n, n_above, expected_above) plus
    the shared chi² and dof repeated per row (alphabet-sized).

    Shape: grand median EXACTLY from the distinct-value histogram
    (cumulative window at value-alphabet cardinality — never a sort of
    raw rows), broadcast back into ONE conditional per-group agg;
    values EQUAL to the median are excluded (the classic convention,
    keeping the 2×k table margins exact). χ² = Σ (O−E)²/E over the
    above/below cells with dof k−1.
    """
    g = F.expr(group_expr)
    pre = (df.select(g.alias("grp"),
                     F.expr(value_expr).cast("double").alias("v"))
           .filter(F.col("v").isNotNull()))
    hist = pre.groupBy("v").agg(
        F.count("*").cast("double").alias("nv"))
    # exact grand median from the histogram via the two-level
    # alphabet scan (see cumsum.prefix_sums) — the value alphabet of a
    # continuous metric must never funnel through one partition
    from satellitetools_spark.operators.cumsum import prefix_sums
    cum, tot = prefix_sums(hist, [F.col("v").asc()], ["nv"],
                           return_totals=True)
    med = (cum.filter(F.col("cum_nv") * 2 >= F.lit(tot["nv"]))
           .agg(F.min("v").alias("med")))
    per = (pre.crossJoin(F.broadcast(med))
           .filter(F.col("v") != F.col("med"))
           .groupBy("grp")
           .agg(F.count("*").alias("n"),
                F.sum(F.when(F.col("v") > F.col("med"), 1)
                      .otherwise(0)).alias("n_above")))
    tot = per.agg(F.sum("n").alias("tn"),
                  F.sum("n_above").alias("ta"),
                  F.count("*").alias("k"))
    per = per.crossJoin(F.broadcast(tot))
    cell = per.withColumn(
        "_e", F.col("n") * F.col("ta") / F.col("tn"))
    chi = cell.agg(F.sum(
        F.expr("pow(n_above - _e, 2) / _e"
               " + pow((n - n_above) - (n - _e), 2) / (n - _e)"))
        .alias("chi2"), F.max("k").alias("kk"))
    return (cell.crossJoin(F.broadcast(chi))
            .select("grp", F.col("n").cast("long").alias("n"),
                    F.col("n_above").cast("long").alias("n_above"),
                    _r6(F.col("_e")).alias("expected_above"),
                    _r6(F.col("chi2")).alias("chi2"),
                    (F.col("kk") - 1).cast("long").alias("dof")))


def median_test_sql(table: str, group_expr: str,
                    value_expr: str) -> str:
    """DuckDB oracle: identical histogram median, conditional counts,
    and χ² fold."""
    return f"""
WITH pre AS (
  SELECT ({group_expr}) AS grp, CAST(({value_expr}) AS DOUBLE) AS v
  FROM {table} WHERE ({value_expr}) IS NOT NULL
),
hist AS (SELECT v, COUNT(*) AS nv FROM pre GROUP BY v),
cum AS (
  SELECT v, SUM(nv) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume,
         (SELECT SUM(nv) FROM hist) AS nn
  FROM hist
),
med AS (SELECT MIN(v) AS med FROM cum WHERE cume * 2 >= nn),
per AS (
  SELECT grp, COUNT(*) AS n,
         SUM(CASE WHEN v > med THEN 1 ELSE 0 END) AS n_above
  FROM pre CROSS JOIN med WHERE v != med
  GROUP BY grp
),
tot AS (SELECT SUM(n) AS tn, SUM(n_above) AS ta, COUNT(*) AS k
        FROM per),
cell AS (
  SELECT p.*, t.tn, t.ta, t.k,
         p.n * t.ta * 1.0 / t.tn AS _e
  FROM per p CROSS JOIN tot t
),
chi AS (
  SELECT SUM(pow(n_above - _e, 2) / _e
             + pow((n - n_above) - (n - _e), 2) / (n - _e)) AS chi2,
         MAX(k) AS kk
  FROM cell
)
SELECT grp, CAST(n AS BIGINT) AS n,
       CAST(n_above AS BIGINT) AS n_above,
       ROUND(_e, 6) + 0.0 AS expected_above,
       ROUND(chi2, 6) + 0.0 AS chi2,
       CAST(kk - 1 AS BIGINT) AS dof
FROM cell CROSS JOIN chi
"""


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test
# ---------------------------------------------------------------------------

def trend_test(df: DataFrame, dose_expr: str,
               label_expr: str) -> DataFrame:
    """Cochran-Armitage test for a LINEAR TREND in a binary rate
    across ordered dose levels — the ordered-alternative complement to
    `checks.chi_square_independence` (which ignores ordering): is the
    positive rate monotone in quality tier / bucket index / exposure
    level? One row: (k, n, z, p_approx) with
    ``z = Σ wᵢ(rᵢ − nᵢ·p̄) / √(p̄(1−p̄)(Σ nᵢwᵢ² − (Σ nᵢwᵢ)²/N))``.

    Shape: ONE hash agg to the per-dose (n, r) table (dose-alphabet
    cardinality), then a single fold — raw rows touched once. The erf
    p rides the shared formula string.
    """
    pre = df.select(F.expr(dose_expr).cast("double").alias("w"),
                    F.expr(f"CASE WHEN ({label_expr}) THEN 1 ELSE 0"
                           " END").alias("y"))
    per = (pre.filter(F.col("w").isNotNull())
           .groupBy("w").agg(F.count("*").alias("n"),
                             F.sum("y").alias("r")))
    fold = per.agg(F.count("*").alias("k"),
                   F.sum("n").alias("nn"), F.sum("r").alias("rr"),
                   F.sum(F.col("w") * F.col("r")).alias("swr"),
                   F.sum(F.col("w") * F.col("n")).alias("swn"),
                   F.sum(F.col("w") * F.col("w") * F.col("n"))
                   .alias("sw2n"))
    num = "(swr - swn * (CAST(rr AS DOUBLE) / nn))"
    var = ("((CAST(rr AS DOUBLE) / nn) * (1.0 - CAST(rr AS DOUBLE) / nn)"
           " * (sw2n - swn * swn / nn))")
    z = f"CASE WHEN {var} > 0 THEN {num} / sqrt({var}) END"
    return fold.select(
        F.col("k").cast("long").alias("k"),
        F.col("nn").cast("long").alias("n"),
        _r6(F.expr(z)).alias("z"),
        _r6(F.expr(f"CASE WHEN ({z}) IS NOT NULL THEN "
                   + _WSR_P_FMT.format(z=f"ABS({z})") + " END"))
        .alias("p_approx"))


def trend_test_sql(table: str, dose_expr: str,
                   label_expr: str) -> str:
    """DuckDB oracle: identical per-dose table and fold."""
    num = "(swr - swn * (CAST(rr AS DOUBLE) / nn))"
    var = ("((CAST(rr AS DOUBLE) / nn) * (1.0 - CAST(rr AS DOUBLE) / nn)"
           " * (sw2n - swn * swn / nn))")
    z = f"CASE WHEN {var} > 0 THEN {num} / sqrt({var}) END"
    return f"""
WITH pre AS (
  SELECT CAST(({dose_expr}) AS DOUBLE) AS w,
         CASE WHEN ({label_expr}) THEN 1 ELSE 0 END AS y
  FROM {table}
),
per AS (
  SELECT w, COUNT(*) AS n, SUM(y) AS r
  FROM pre WHERE w IS NOT NULL GROUP BY w
),
fold AS (
  SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(r) AS rr,
         SUM(w * r) AS swr, SUM(w * n) AS swn,
         SUM(w * w * n) AS sw2n
  FROM per
)
SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
       ROUND({z}, 6) + 0.0 AS z,
       ROUND(CASE WHEN ({z}) IS NOT NULL THEN
             {_WSR_P_FMT.format(z=f"ABS({z})")} END, 6) + 0.0
         AS p_approx
FROM fold
"""
