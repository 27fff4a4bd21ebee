"""Customer / revenue segmentation analytics over the star schema.

Beyond-reference operators (the reference is a satellite-imagery
library; these cover the relational-segmentation side of a
training-data / analytics pipeline): RFM quartile segmentation,
Gini revenue-concentration, and market-basket pair lift.

Numeric determinism: every monetary sum is carried as DECIMAL(18,2)
(exact, order-independent) in BOTH engines; floats appear only in the
final readout division, so the engine and the DuckDB oracle agree
bit-for-bit after ``round(x, 6) + 0.0`` canonicalization.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "rfm_segments", "rfm_segments_sql",
    "gini_concentration", "gini_concentration_sql",
    "basket_pairs", "basket_pairs_sql",
    "cohort_revenue", "cohort_revenue_sql",
]

# rfm_segments ranks at most this many customers with the classic
# single-task NTILE windows; larger tables take the two-level scan.
SMALL_TABLE_THRESHOLD = 2_000_000


def rfm_segments(orders: DataFrame, n_tiles: int = 4) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation.

    One hash agg at customer cardinality (recency vs the global max
    order date, order count, exact DECIMAL monetary sum), then three
    NTILE windows over fully deterministic orderings (metric +
    ``c_custkey`` tie-break — NTILE without a total order is
    nondeterministic in any engine).

    Shape at scale: agg shuffles once on ``o_custkey``; the NTILE pass
    is ADAPTIVE on the aggregated customer count — ≤
    ``SMALL_TABLE_THRESHOLD`` uses the classic windows (the table
    provably fits one task), above it each dimension is a TWO-LEVEL
    scan (range partition + per-partition row ids + driver-literal
    offsets, cumsum.prefix_sums) with SQL NTILE's exact bucket formula
    applied to the global rank — no single-partition sort at 10⁹
    customers, no extra jobs at 10³. Both paths produce identical
    scores (pinned in tests). The global max date is a scalar subquery
    (broadcast), never a driver collect.
    """
    gmax = orders.agg(F.max(F.to_date("o_orderdate")).alias("_gmax"))
    per = (orders
           .groupBy("o_custkey")
           .agg(F.max(F.to_date("o_orderdate")).alias("_last"),
                F.count("*").cast("long").alias("frequency"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("_mon"))
           .crossJoin(F.broadcast(gmax))
           .select(F.col("o_custkey").alias("c_custkey"),
                   F.datediff("_gmax", "_last").cast("long")
                   .alias("recency_days"),
                   "frequency", F.col("_mon")))
    # ntile over 10⁹ customers must not collapse into one sort task —
    # but the two-level scan costs three extra jobs (checkpoint +
    # partials collect each), which dominates when the customer table
    # is small. ADAPTIVE split on the aggregated cardinality (one cheap
    # count on the pinned agg): below the threshold the classic NTILE
    # windows sort a provably small table in one task; above it each
    # dimension gets a global 1-based rank from the two-level scan
    # (cumsum.prefix_sums with_index) and NTILE's exact bucket formula
    # — first n % tiles buckets hold ceil(n/tiles) rows, identical to
    # SQL NTILE — is applied to the rank with driver-literal (n, tiles).
    from satellitetools_spark.operators.cumsum import prefix_sums

    per = per.localCheckpoint(eager=False)
    n_rows = per.count()
    order_r = [F.col("recency_days").asc(), F.col("c_custkey").asc()]
    order_f = [F.col("frequency").desc(), F.col("c_custkey").asc()]
    order_m = [F.col("_mon").desc(), F.col("c_custkey").asc()]
    if n_rows <= SMALL_TABLE_THRESHOLD:
        out = (per
               .withColumn("r_score",
                           F.ntile(n_tiles).over(Window.orderBy(*order_r)))
               .withColumn("f_score",
                           F.ntile(n_tiles).over(Window.orderBy(*order_f)))
               .withColumn("m_score",
                           F.ntile(n_tiles).over(Window.orderBy(*order_m))))
    else:
        def _ntile_from_idx(idx_col, n: int, tiles: int):
            base, rem = divmod(int(n), int(tiles))
            big = F.lit(rem * (base + 1)).cast("long")
            i = idx_col.cast("long")
            in_big = ((i - 1) / F.lit(base + 1)).cast("long") + 1
            in_small = (F.lit(rem)
                        + ((i - big - 1) / F.lit(max(base, 1)))
                        .cast("long") + 1)
            return (F.when(i <= big, in_big).otherwise(in_small)
                    .cast("int"))

        out = per
        for score, order in (("r_score", order_r),
                             ("f_score", order_f),
                             ("m_score", order_m)):
            out = prefix_sums(out, order, [], with_index=True)
            out = out.withColumn(
                score, _ntile_from_idx(F.col("_idx"), n_rows, n_tiles)
            ).drop("_idx")
    return out.select(
        "c_custkey", "recency_days", "frequency",
        (F.round(F.col("_mon").cast("double"), 4) + 0.0)
        .alias("monetary"),
        "r_score", "f_score", "m_score",
        F.concat_ws("", "r_score", "f_score", "m_score").alias("rfm"))


def rfm_segments_sql(table: str = "orders", n_tiles: int = 4) -> str:
    """DuckDB oracle: identical agg, identical deterministic NTILE
    orderings, identical DECIMAL carry."""
    n = int(n_tiles)
    return f"""
WITH per AS (
  SELECT o_custkey AS c_custkey,
         date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                   (SELECT MAX(CAST(o_orderdate AS DATE)) FROM {table}))
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
  FROM {table} GROUP BY o_custkey
),
sc AS (
  SELECT *,
         NTILE({n}) OVER (ORDER BY recency_days ASC, c_custkey ASC)
           AS r_score,
         NTILE({n}) OVER (ORDER BY frequency DESC, c_custkey ASC)
           AS f_score,
         NTILE({n}) OVER (ORDER BY mon DESC, c_custkey ASC) AS m_score
  FROM per
)
SELECT c_custkey, CAST(recency_days AS BIGINT) AS recency_days,
       frequency, ROUND(CAST(mon AS DOUBLE), 4) + 0.0 AS monetary,
       CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS rfm
FROM sc
"""


def gini_concentration(li: DataFrame) -> DataFrame:
    """Gini coefficient + top-decile share of revenue concentration.

    Per-key exact DECIMAL totals (one shuffle), rank by an
    unpartitioned window (key-cardinality rows, not fact rows), then
    the closed form  G = 2·Σ(i·xᵢ) / (n·Σx) − (n+1)/n  over ascending
    totals. ``i·xᵢ`` stays DECIMAL (bigint × decimal → exact), so both
    engines divide the same exact integers scaled by 0.01.

    Scale note: the window sorts ONLY the aggregated key table (10⁶
    suppliers from 10¹² fact rows) — the fact scan never sorts.
    """
    frac = 0.1
    from satellitetools_spark.operators.cumsum import prefix_sums
    per = (li.groupBy("l_suppkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .alias("_x")))
    # global ascending rank + key count via the two-level scan — no
    # single-partition window over the key table
    idxed, tot = prefix_sums(
        per, [F.col("_x").asc(), F.col("l_suppkey").asc()], [],
        return_totals=True, with_index=True)
    ranked = idxed.select(
        "_x", F.col("_idx").cast("long").alias("_i"),
        F.lit(int(tot["_count"])).cast("long").alias("_n"))
    n_top = F.ceil(F.lit(frac) * F.col("_n")).cast("long")
    agg = ranked.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("_x").alias("_tot"),
        F.sum(F.col("_i").cast("decimal(20,0)") * F.col("_x"))
        .alias("_s1"),
        F.sum(F.when(F.col("_i") > F.col("_n") - n_top, F.col("_x"))
              .otherwise(F.lit(0).cast("decimal(18,2)"))).alias("_topx"),
    )
    return agg.select(
        "n_keys",
        (F.round(F.col("_tot").cast("double"), 2) + 0.0).alias("total"),
        (F.round(F.lit(2.0) * F.col("_s1").cast("double")
                 / (F.col("n_keys") * F.col("_tot").cast("double"))
                 - (F.col("n_keys") + 1.0) / F.col("n_keys"), 6) + 0.0)
        .alias("gini"),
        (F.round(F.col("_topx").cast("double")
                 / F.col("_tot").cast("double"), 6) + 0.0)
        .alias("top_share"))


def gini_concentration_sql(table: str = "lineitem",
                           key_col: str = "l_suppkey",
                           value_col: str = "l_extendedprice",
                           top_frac: float = 0.1) -> str:
    """DuckDB oracle: same per-key DECIMAL totals, same rank order,
    same closed form."""
    frac = float(top_frac)
    return f"""
WITH per AS (
  SELECT {key_col} AS k, SUM(CAST({value_col} AS DECIMAL(18,2))) AS x
  FROM {table} GROUP BY {key_col}
),
rk AS (
  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x ASC, k ASC) AS BIGINT)
           AS i, COUNT(*) OVER () AS n
  FROM per
)
SELECT CAST(MAX(n) AS BIGINT) AS n_keys,
       ROUND(CAST(SUM(x) AS DOUBLE), 2) + 0.0 AS total,
       ROUND(2.0 * CAST(SUM(CAST(i AS DECIMAL(20,0)) * x) AS DOUBLE)
             / (MAX(n) * CAST(SUM(x) AS DOUBLE))
             - (MAX(n) + 1.0) / MAX(n), 6) + 0.0 AS gini,
       ROUND(CAST(SUM(CASE WHEN i > n - CAST(CEIL(CAST({frac!r} AS
                                                  DOUBLE) * n)
                                             AS BIGINT)
                      THEN x ELSE CAST(0 AS DECIMAL(18,2)) END)
                  AS DOUBLE)
             / CAST(SUM(x) AS DOUBLE), 6) + 0.0 AS top_share
FROM rk
"""


def basket_pairs(li: DataFrame, min_support: int = 3) -> DataFrame:
    """Market-basket co-occurrence with lift.

    distinct (order, item) → self-equi-join on the order key with
    ``item_a < item_b`` → pair counts → broadcast-join the per-item
    marginals → lift = n_ab·N / (n_a·n_b). All counts integer-exact;
    the only float is the final lift division.

    Scale: TPC-H baskets are ≤7 items so the self-join fan-out is
    bounded (k·(k−1)/2 per order); the join is a shuffle equi-join on
    the order key — never a cartesian. Skewed mega-baskets would be
    capped upstream (filter baskets by size) before the self-join.
    """
    oi = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("it")).distinct()
    n_orders = oi.select(F.countDistinct("o").alias("n_orders"))
    marg = oi.groupBy("it").agg(F.count("*").cast("long").alias("n_it"))
    a = oi.alias("a")
    b = oi.alias("b")
    pairs = (a.join(b, (F.col("a.o") == F.col("b.o"))
                    & (F.col("a.it") < F.col("b.it")))
             .groupBy(F.col("a.it").alias("item_a"),
                      F.col("b.it").alias("item_b"))
             .agg(F.count("*").cast("long").alias("n_ab"))
             .filter(F.col("n_ab") >= int(min_support)))
    out = (pairs
           .join(F.broadcast(marg.withColumnRenamed("it", "item_a")
                             .withColumnRenamed("n_it", "n_a")),
                 "item_a")
           .join(F.broadcast(marg.withColumnRenamed("it", "item_b")
                             .withColumnRenamed("n_it", "n_b")),
                 "item_b")
           .crossJoin(F.broadcast(n_orders)))
    return out.select(
        "item_a", "item_b", "n_ab", "n_a", "n_b",
        (F.round(F.col("n_ab").cast("double") * F.col("n_orders")
                 / (F.col("n_a").cast("double") * F.col("n_b")), 6)
         + 0.0).alias("lift"))


def basket_pairs_sql(table: str = "lineitem", min_support: int = 3,
                     order_col: str = "l_orderkey",
                     item_col: str = "l_partkey") -> str:
    """DuckDB oracle: identical distinct → self-join → marginals →
    lift chain."""
    return f"""
WITH oi AS (
  SELECT DISTINCT {order_col} AS o, {item_col} AS it FROM {table}
),
marg AS (
  SELECT it, CAST(COUNT(*) AS BIGINT) AS n_it FROM oi GROUP BY it
),
no AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM oi),
pairs AS (
  SELECT a.it AS item_a, b.it AS item_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM oi a JOIN oi b ON a.o = b.o AND a.it < b.it
  GROUP BY a.it, b.it
  HAVING COUNT(*) >= {int(min_support)}
)
SELECT item_a, item_b, n_ab, ma.n_it AS n_a, mb.n_it AS n_b,
       ROUND(CAST(n_ab AS DOUBLE) * n_orders
             / (CAST(ma.n_it AS DOUBLE) * CAST(mb.n_it AS DOUBLE)), 6)
         + 0.0 AS lift
FROM pairs
JOIN marg ma ON ma.it = item_a
JOIN marg mb ON mb.it = item_b
CROSS JOIN no
"""


def cohort_revenue(orders: DataFrame) -> DataFrame:
    """Cohort retention/LTV matrix: customers grouped by first-order
    month, revenue and active-customer counts per (cohort,
    months-since-cohort) offset. Month arithmetic is integer
    (year·12 + month), monetary sums DECIMAL-exact.

    Shape: one customer-cardinality agg for the cohort key, one
    co-partitioned equi-join back on the customer key (no broadcast
    assumption — both sides scale), ONE final hash agg at
    cohort×offset cardinality.
    """
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1) \
        .cast("long")
    first = (orders.groupBy("o_custkey")
             .agg(F.min(ym).alias("_cym")))
    j = orders.withColumn("_ym", ym).join(first, "o_custkey")
    return (j.groupBy(
        F.concat_ws(
            "-",
            F.floor(F.col("_cym") / 12).cast("long"),
            F.lpad((F.pmod(F.col("_cym"), F.lit(12)) + 1)
                   .cast("int").cast("string"), 2, "0"))
        .alias("cohort"),
        (F.col("_ym") - F.col("_cym")).cast("long")
        .alias("month_offset"))
        .agg(F.countDistinct("o_custkey").cast("long")
             .alias("n_customers"),
             F.count("*").cast("long").alias("n_orders"),
             (F.round(F.sum(F.col("o_totalprice")
                            .cast("decimal(18,2)")).cast("double"), 4)
              + 0.0).alias("revenue")))


def cohort_revenue_sql(table: str = "orders") -> str:
    """DuckDB oracle: identical integer month algebra and DECIMAL
    carry."""
    return f"""
WITH cym AS (
  SELECT o_custkey, o_totalprice,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS ym
  FROM {table}
),
cfirst AS (
  SELECT o_custkey, MIN(ym) AS cym FROM cym GROUP BY o_custkey
)
SELECT CAST(CAST(FLOOR(f.cym / 12) AS BIGINT) AS VARCHAR) || '-'
         || lpad(CAST((f.cym % 12) + 1 AS VARCHAR), 2, '0') AS cohort,
       o.ym - f.cym AS month_offset,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 4) + 0.0 AS revenue
FROM cym o JOIN cfirst f USING (o_custkey)
GROUP BY 1, 2
"""


def abc_analysis(li: DataFrame) -> DataFrame:
    """ABC (Pareto) classification of revenue keys: rank keys by
    DECIMAL-exact revenue descending, classify by the cumulative
    revenue share — A up to 80%, B up to 95%, C the tail.
    The inventory-prioritization standard.

    Shape: per-key agg (one shuffle), then the cumulative revenue and
    global rank come from ONE two-level scan over the aggregated key
    table (cumsum.prefix_sums with decimal-exact offsets — no
    single-partition window even at 10⁹ keys). The cumulative share
    divides two exact decimals, so both engines compare identical
    doubles at the class boundaries.
    """
    from satellitetools_spark.operators.cumsum import prefix_sums
    per = (li.groupBy("l_partkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .alias("_x")))
    ranked, tot = prefix_sums(
        per, [F.col("_x").desc(), F.col("l_partkey").asc()], ["_x"],
        return_totals=True, with_index=True)
    ranked = (ranked.withColumnRenamed("cum__x", "_cum")
              .withColumnRenamed("_idx", "rank")
              .withColumn("_t", F.lit(tot["_x"])))
    share = F.col("_cum").cast("double") / F.col("_t").cast("double")
    cls = (F.when(share <= 0.8, "A")
           .when(share <= 0.95, "B").otherwise("C"))
    return ranked.select(
        F.col("l_partkey").alias("key"),
        F.col("rank").cast("long").alias("rank"),
        (F.round(F.col("_x").cast("double"), 4) + 0.0).alias("revenue"),
        (F.round(share, 6) + 0.0).alias("cum_share"),
        cls.alias("abc_class"))


def abc_analysis_sql(table: str = "lineitem",
                     key_col: str = "l_partkey",
                     value_col: str = "l_extendedprice",
                     a_cut: float = 0.8, b_cut: float = 0.95) -> str:
    """DuckDB oracle: identical DECIMAL totals, cumulative window, and
    boundary comparisons."""
    return f"""
WITH abp AS (
  SELECT {key_col} AS key,
         SUM(CAST({value_col} AS DECIMAL(18,2))) AS x
  FROM {table} GROUP BY {key_col}
),
abt AS (SELECT SUM(x) AS t FROM abp),
abr AS (
  SELECT key, x, t,
         SUM(x) OVER (ORDER BY x DESC, key ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         CAST(ROW_NUMBER() OVER (ORDER BY x DESC, key ASC) AS BIGINT)
           AS rank
  FROM abp CROSS JOIN abt
)
SELECT key, rank,
       ROUND(CAST(x AS DOUBLE), 4) + 0.0 AS revenue,
       ROUND(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE), 6) + 0.0
         AS cum_share,
       CASE WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)
                 <= CAST({float(a_cut)!r} AS DOUBLE) THEN 'A'
            WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)
                 <= CAST({float(b_cut)!r} AS DOUBLE) THEN 'B'
            ELSE 'C' END AS abc_class
FROM abr
"""


# ---------------------------------------------------------------------------
# Co-visitation item-item similarity
# ---------------------------------------------------------------------------

def covisitation(df: DataFrame) -> DataFrame:
    """Item-item co-visitation similarity from a (user, item)
    interaction log: for every item pair (a < b), the number of
    distinct users touching BOTH and the cosine-normalized strength
    ``n_ab / √(n_a·n_b)`` — the memory-based collaborative-filtering
    primitive ("users who touched a also touched b") and the
    co-occurrence backbone of related-content recommendations.

    Shape: interactions dedupe to distinct (user, item) pairs (one
    hash agg), then ONE wedge self-join on the user key with a < b —
    fan-out Σ_u k_u² where k_u is the user's distinct-item count, the
    same quadratic every co-occurrence method pays, bounded in
    practice by per-user catalog touch (k_u ≪ catalog). Item
    marginals join back at item cardinality. Power users can be
    degree-capped upstream the same way `adamic_adar` caps wedge
    apexes. No driver state, no UDFs.
    """
    ui = (df.select(F.col("user_id").alias("u"),
                    F.col("event_type").alias("item")).distinct())
    marg = ui.groupBy("item").agg(F.count("*").alias("n_item"))
    a = ui.select(F.col("u"), F.col("item").alias("item_a"))
    b = ui.select(F.col("u"), F.col("item").alias("item_b"))
    pairs = (a.join(b, "u")
             .filter(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count("*").cast("long").alias("n_both")))
    ma = marg.select(F.col("item").alias("item_a"),
                     F.col("n_item").alias("n_a"))
    mb = marg.select(F.col("item").alias("item_b"),
                     F.col("n_item").alias("n_b"))
    return (pairs.join(ma, "item_a").join(mb, "item_b")
            .select("item_a", "item_b", "n_both",
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    (F.round(F.col("n_both")
                             / F.sqrt(F.col("n_a") * F.col("n_b")), 6)
                     + 0.0).alias("cosine")))


def covisitation_sql(table: str, key_col: str = "user_id",
                     item_col: str = "event_type",
                     min_count: int = 1) -> str:
    """DuckDB oracle: identical dedupe, wedge join, and cosine."""
    return f"""
WITH ui AS (
  SELECT DISTINCT {key_col} AS u, {item_col} AS item FROM {table}
),
marg AS (SELECT item, COUNT(*) AS n_item FROM ui GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item
  GROUP BY 1, 2
  HAVING COUNT(*) >= {int(min_count)}
)
SELECT p.item_a, p.item_b, p.n_both,
       CAST(ma.n_item AS BIGINT) AS n_a,
       CAST(mb.n_item AS BIGINT) AS n_b,
       ROUND(p.n_both / sqrt(ma.n_item * mb.n_item), 6) + 0.0 AS cosine
FROM pairs p
JOIN marg ma ON ma.item = p.item_a
JOIN marg mb ON mb.item = p.item_b
"""
