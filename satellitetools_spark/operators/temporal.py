"""Temporal operators Spark lacks as built-ins: as-of join,
(equi-key-free) range join, gap-based sessionization, and regular-grid
resampling with carry-forward.

Both are expressed as compositions of DataFrame ops — no UDFs, no
cartesian products — following the standard distributed shapes
(union + ordered carry-forward for as-of, bin-bucket candidate join +
exact refine for range), so Catalyst/AQE keep planning the wide ops.

As-of join (``merge_asof`` / Flink temporal join semantics): each left
row picks the single latest right row with ``right_ts <= left_ts`` in the
same key group. Rather than a join at all, the two tables are unioned,
tagged, and sorted per key by (ts, tag); one window ``last(_r,
ignorenulls=True)`` carry-forward assigns every left row its predecessor
right row. ONE shuffle on the key columns, no range explosion, linear
work per partition. A hot key serializes into one partition's sort — for
known-skewed keys pre-split by coarse time bucket and carry the previous
bucket's tail row in (documented; not needed for the gate data).

Range join: pair rows whose timestamps fall within ``tolerance`` of each
other with NO equi key to hash on. A naive theta-join is a cartesian;
binning restores an equi key: each right row lands in ``floor(ts/w)``,
each left row probes its bin and the two neighbors (w = tolerance, so
any in-range pair shares a probed bin — and a pair is found in EXACTLY
one probe: the right bin is determined by the right ts, and left probes
each distinct bin once), then the exact predicate refines candidates.
Candidate count is bounded by bin co-occupancy, not |L|x|R|.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _epoch(col: Column) -> Column:
    """Fractional epoch seconds. The double-cast keeps sub-second
    precision (unix_timestamp truncates); the intermediate cast makes it
    legal for TIMESTAMP_NTZ inputs too — callers must pin
    ``spark.sql.session.timeZone=UTC`` so NTZ values bind to the same
    instant DuckDB's epoch() assumes."""
    return col.cast("timestamp").cast("double")


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str],
              left_ts: str = "ts",
              right_cols: Optional[Sequence[str]] = None,
              tolerance_seconds: Optional[float] = None) -> DataFrame:
    """Backward as-of join: every left row + the latest right row at or
    before its timestamp within the same ``on`` key group (NULLs if none).

    ``right_cols`` are the right-side payload columns to carry (default:
    all non-key, non-ts columns), emitted as ``ref_{col}`` plus
    ``ref_ts``. ``tolerance_seconds`` drops matches older
    than the given age (the match becomes NULL, like pandas merge_asof).

    Determinism requires (on, ts) to be unique on the right side —
    two right rows tying at the same instant make the pick order-dependent
    (DuckDB's ASOF has the same ambiguity). Left columns named
    ``_t``/``_src``/``_r``/``_c`` would collide with the internals.
    """
    on = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns
                      if c not in on and c != "ts"]
    payload = F.struct(
        F.col("ts").alias("_rts"), *[F.col(c) for c in right_cols])

    l_tag = left.withColumn("_t", F.col(left_ts)).withColumn(
        "_src", F.lit(1))
    r_tag = right.select(
        *on, F.col("ts").alias("_t"), F.lit(0).alias("_src"),
        payload.alias("_r"))
    u = l_tag.unionByName(r_tag, allowMissingColumns=True)

    # right rows (_src=0) sort before left rows at equal timestamps, so a
    # left row at T sees a right row at exactly T (>= semantics)
    w = (Window.partitionBy(*on).orderBy("_t", "_src")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = F.last("_r", ignorenulls=True).over(w)
    out = (u.withColumn("_c", carried)
            .filter(F.col("_src") == 1))
    if tolerance_seconds is not None:
        age = _epoch(F.col("_t")) - _epoch(F.col("_c._rts"))
        out = out.withColumn(
            "_c", F.when(age <= tolerance_seconds, F.col("_c")))
    return out.select(
        *left.columns,
        F.col("_c._rts").alias("ref_ts"),
        *[F.col(f"_c.{c}").alias(f"ref_{c}") for c in right_cols])


def sessionize(df: DataFrame, key: Sequence[str] = ("user_id",),
               gap_seconds: float = 1800.0) -> DataFrame:
    """Gap-based sessionization: within each ``key`` group, a new session
    starts at the first event and whenever the gap to the previous event
    exceeds ``gap_seconds`` (strictly). Appends ``session_seq`` — the
    1-based session ordinal per key; ``concat(key, session_seq)`` is a
    globally unique session id.

    Shape: ONE shuffle on the key columns; the boundary flag (lag) and the
    running sum use the same partitioning+ordering, so the second Window
    operator reuses the first's exchange (audited: Window <- Sort(local)
    <- Project <- Window <- Sort <- Exchange — the inner re-sort is
    partition-local, no second shuffle). Boundary decisions compare integer
    MICROsecond epochs (``unix_micros``), never float seconds — exact, and
    bit-reproducible by any engine with integer epoch extraction (the
    DuckDB oracle uses ``epoch_us``). A hot key serializes into one
    partition's sort, same caveat as :func:`asof_join`.

    Equal-timestamp events are session-stable without a tiebreaker: the
    intra-tie order only permutes which of the tied rows carries the
    boundary flag; every row's session assignment (a prefix sum over the
    flags) is identical either way.
    """
    key = list(key)
    gap_us = int(round(float(gap_seconds) * 1e6))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy(*key).orderBy(us)
    prev = F.lag(us).over(w)
    boundary = F.when(prev.isNull() | (us - prev > gap_us), 1).otherwise(0)
    run = Window.partitionBy(*key).orderBy(us).rowsBetween(
        Window.unboundedPreceding, 0)
    return (df.withColumn("_b", boundary)
              .withColumn("session_seq", F.sum("_b").over(run).cast("long"))
              .drop("_b"))


def sessionize_sql(table: str, key: Sequence[str] = ("user_id",),
                   ts_col: str = "ts", gap_seconds: float = 1800.0,
                   session_col: str = "session_seq",
                   columns: str = "*") -> str:
    """DuckDB oracle: identical window form over integer micro epochs."""
    key_sql = ", ".join(key)
    gap_us = int(round(float(gap_seconds) * 1e6))
    return f"""
WITH b AS (
  SELECT {columns},
         CASE WHEN lag(epoch_us({ts_col})) OVER (
                  PARTITION BY {key_sql} ORDER BY epoch_us({ts_col}))
                  IS NULL
              OR epoch_us({ts_col}) - lag(epoch_us({ts_col})) OVER (
                  PARTITION BY {key_sql} ORDER BY epoch_us({ts_col}))
                 > {gap_us}
              THEN 1 ELSE 0 END AS _b
  FROM {table}
)
SELECT * EXCLUDE (_b),
       CAST(SUM(_b) OVER (PARTITION BY {key_sql} ORDER BY epoch_us({ts_col})
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS {session_col}
FROM b
"""


def time_grid_fill(obs: DataFrame, key: Sequence[str] = ("user_id",),
                   step_seconds: float = 3600.0,
                   right_cols: Optional[Sequence[str]] = None) -> DataFrame:
    """Resample an irregular observation stream onto a regular time grid
    with last-observation-carried-forward (gap fill) — the batch analog of
    downsampling a sensor feed to fixed ticks.

    Per key, ticks run from ``ceil(min_ts / step) * step`` to ``max_ts``
    at ``step_seconds`` spacing (so every tick has at least one
    observation at or before it); each tick then picks the latest
    observation via :func:`asof_join`. Tick arithmetic is pure integer
    micros (``DIV``) — grid placement is exact and engine-portable.

    Shape: one hash agg for the per-key span (key-cardinality rows), an
    explode of ``sequence()`` (no shuffle), then the as-of join's single
    key shuffle. Grid cardinality is span/step per key — bounded and
    predictable, never |obs|^2.

    Output: key columns, ``tick_ts``, and the carried ``ref_*``
    payload columns (plus ``ref_ts``).
    """
    key = list(key)
    step_us = int(round(float(step_seconds) * 1e6))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    spans = obs.groupBy(*key).agg(F.min(us).alias("_mn"),
                                  F.max(us).alias("_mx"))
    lo = F.expr(f"CAST((_mn + {step_us - 1}) DIV {step_us} AS BIGINT)"
                f" * {step_us}")
    grid = (spans.withColumn("_lo", lo)
                 .filter(F.col("_lo") <= F.col("_mx"))
                 .select(*key,
                         F.explode(F.sequence(
                             F.col("_lo"), F.col("_mx"),
                             F.lit(step_us).cast("long"))).alias("_tick_us"))
                 .select(*key,
                         F.timestamp_micros(F.col("_tick_us"))
                          .alias("tick_ts")))
    return asof_join(grid, obs, on=key, left_ts="tick_ts",
                     right_cols=right_cols)


def time_grid_fill_sql(table: str, key: Sequence[str] = ("user_id",),
                       ts_col: str = "ts", step_seconds: float = 3600.0,
                       right_cols: Sequence[str] = (),
                       prefix: str = "ref_") -> str:
    """DuckDB oracle: generate_series grid + native ASOF join."""
    key_sql = ", ".join(key)
    step_us = int(round(float(step_seconds) * 1e6))
    payload = ", ".join(
        [f"o.{ts_col} AS {prefix}{ts_col}"]
        + [f"o.{c} AS {prefix}{c}" for c in right_cols])
    on_keys = " AND ".join(f"g.{k} = o.{k}" for k in key)
    return f"""
WITH span AS (
  SELECT {key_sql}, min(epoch_us({ts_col})) AS mn, max(epoch_us({ts_col})) AS mx
  FROM {table} GROUP BY {key_sql}
),
grid AS (
  SELECT {key_sql}, make_timestamp(u.tick) AS tick_ts
  FROM span, LATERAL unnest(generate_series(
         ((mn + {step_us - 1}) // {step_us}) * {step_us},
         mx, {step_us})) AS u(tick)
  WHERE ((mn + {step_us - 1}) // {step_us}) * {step_us} <= mx
)
SELECT g.*, {payload}
FROM grid g ASOF JOIN {table} o
  ON {on_keys} AND g.tick_ts >= o.{ts_col}
"""


def interpolate_to_grid(obs: DataFrame, key: Sequence[str] = ("user_id",),
                        step_seconds: float = 3600.0) -> DataFrame:
    """Linear interpolation of an irregular observation stream onto a
    regular time grid — the companion of :func:`time_grid_fill` (which
    carries forward) for continuous signals: each grid tick inside the
    observed span gets ``v0 + (v1 - v0) * (t - t0)/(t1 - t0)`` from its
    bracketing observations. No extrapolation: ticks before the first or
    after the last observation are not emitted.

    Shape: ONE shuffle (the per-key ``lead`` window), then a map-side
    ``sequence()`` explode of the ticks inside each segment ``[t0, t1)``
    — no range join, no grid×obs candidate pairs; output cardinality is
    span/step per key. This is the segment-ownership form: every tick
    belongs to exactly one segment, so no dedup pass.

    Exactness: grid placement and segment membership are pure integer
    micro arithmetic; the interpolation weight is one double division,
    written identically in the DuckDB oracle (ticks at exactly ``t0``
    short-circuit to ``v0``, covering the final observation and avoiding
    0/0). Requires (key, ts) unique per group (same precondition as
    :func:`asof_join`) and non-negative epochs (integer ``DIV``
    ceil-trick).
    """
    key = list(key)
    step_us = int(round(float(step_seconds) * 1e6))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy(*key).orderBy(us)
    seg = obs.select(
        *key, us.alias("_t0"), F.col("value").alias("_v0"),
        F.lead(us).over(w).alias("_t1"),
        F.lead("value").over(w).alias("_v1"))
    lo = F.expr(f"CAST((_t0 + {step_us - 1}) DIV {step_us} AS BIGINT)"
                f" * {step_us}")
    hi = F.when(F.col("_t1").isNull(), F.col("_t0")) \
          .otherwise(F.col("_t1") - 1)
    ticks = (seg.withColumn("_lo", lo).withColumn("_hi", hi)
                .filter(F.col("_lo") <= F.col("_hi"))
                .select(*key, "_t0", "_v0", "_t1", "_v1",
                        F.explode(F.sequence(
                            F.col("_lo"), F.col("_hi"),
                            F.lit(step_us).cast("long"))).alias("_t")))
    frac = (F.col("_t") - F.col("_t0")).cast("double") / \
           (F.col("_t1") - F.col("_t0")).cast("double")
    v = F.when(F.col("_t") == F.col("_t0"), F.col("_v0")) \
         .otherwise(F.col("_v0") + (F.col("_v1") - F.col("_v0")) * frac)
    return ticks.select(
        *key, F.timestamp_micros(F.col("_t")).alias("tick_ts"),
        v.alias("interp_value"))


def interpolate_to_grid_sql(table: str, key: Sequence[str] = ("user_id",),
                            ts_col: str = "ts", value_col: str = "value",
                            step_seconds: float = 3600.0,
                            out_col: str = "interp_value") -> str:
    """DuckDB oracle: the identical segment-explode + weight formula."""
    key_sql = ", ".join(key)
    step_us = int(round(float(step_seconds) * 1e6))
    return f"""
WITH seg AS (
  SELECT {key_sql}, epoch_us({ts_col}) AS t0, {value_col} AS v0,
         lead(epoch_us({ts_col})) OVER w AS t1,
         lead({value_col}) OVER w AS v1
  FROM {table}
  WINDOW w AS (PARTITION BY {key_sql} ORDER BY epoch_us({ts_col}))
),
ticks AS (
  SELECT {key_sql}, t0, v0, t1, v1, u.t
  FROM seg, LATERAL unnest(generate_series(
         ((t0 + {step_us - 1}) // {step_us}) * {step_us},
         CASE WHEN t1 IS NULL THEN t0 ELSE t1 - 1 END,
         {step_us})) AS u(t)
)
SELECT {key_sql}, make_timestamp(t) AS tick_ts,
       CASE WHEN t = t0 THEN v0
            ELSE v0 + (v1 - v0) *
                 (CAST(t - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))
       END AS {out_col}
FROM ticks
"""


def range_join(left: DataFrame, right: DataFrame,
               tolerance_seconds: float) -> DataFrame:
    """All (left, right) pairs with ``|left.ts - right.ts| <=
    tolerance_seconds`` — WITHOUT requiring an equi key.

    Bin width = tolerance: right rows key on ``floor(ts/w)``; left rows
    probe bins {b-1, b, b+1} (a fixed 3-element explode — a constant x3
    left-side fanout, NOT a data-dependent blowup), the equi-join on the
    bin is hash/sort-merge plannable, and the exact |dt| predicate
    refines. Every in-range pair shares exactly one probed bin, so no
    dedup pass is needed.

    Left columns keep their names; right columns are prefixed ``r_``.
    """
    w = float(tolerance_seconds)
    lbin = F.floor(_epoch(F.col("ts")) / F.lit(w)).cast("long")
    rbin = F.floor(_epoch(F.col("ts")) / F.lit(w)).cast("long")

    l_probe = left.select(
        "*", F.explode(F.array(lbin - 1, lbin, lbin + 1)).alias("_bin"))
    r_tag = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns],
        rbin.alias("_bin"))

    dt = _epoch(F.col("ts")) - _epoch(F.col("r_ts"))
    return (l_probe.join(r_tag, l_probe["_bin"] == r_tag["_bin"])
            .filter(F.abs(dt) <= w)
            .drop("_bin"))


def rolling_zscore(df: DataFrame, key: Sequence[str] = ("user_id",),
                   z_thresh: float = 3.0) -> DataFrame:
    """Trailing-window anomaly score: each observation's z-score against
    the mean/std of its own PREVIOUS 24 observations (current row
    excluded — no self-leakage), flagged when ``|z| > z_thresh``. The
    point-anomaly detector a monitoring pipeline runs over per-key metric
    streams.

    ONE shuffle: all four window aggregates (count, mean, mean-of-squares
    → std) share a single partition+order frame, so Catalyst evaluates
    them in one Window operator over one Exchange+Sort. Std uses the
    population moment form ``sqrt(E[v²] − E[v]²)`` (cancellation-clamped)
    — written identically in the DuckDB oracle so both engines agree to
    rounding, which `STDDEV`'s Welford accumulation would not. Rows with
    fewer than 8 predecessors or a degenerate (zero) std
    emit NULL z and false flag.
    """
    key = list(key)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (Window.partitionBy(*key).orderBy(us)
         .rowsBetween(-24, -1))
    v = F.col("value")
    n = F.count(v).over(w)
    m = F.avg(v).over(w)
    m2 = F.avg(v * v).over(w)
    sd = F.sqrt(F.greatest(m2 - m * m, F.lit(0.0)))
    z = F.when((n >= 8) & (sd > 0), (v - m) / sd)
    return (df.withColumn("n_prev", n.cast("int"))
              .withColumn("z", z)
              .withColumn("is_anomaly",
                          F.coalesce(F.abs(z) > z_thresh, F.lit(False))))


def rolling_zscore_sql(table: str, key: Sequence[str] = ("user_id",),
                       ts_col: str = "ts", value_col: str = "value",
                       window: int = 24, min_periods: int = 8,
                       z_thresh: float = 3.0,
                       columns: str = "*") -> str:
    """DuckDB oracle: the identical shared window frame and moment-form
    std."""
    key_sql = ", ".join(key)
    v = value_col
    return f"""
WITH zw AS (
  SELECT {columns},
         COUNT({v}) OVER w AS n_prev,
         AVG({v}) OVER w AS m,
         AVG({v} * {v}) OVER w AS m2
  FROM {table}
  WINDOW w AS (PARTITION BY {key_sql} ORDER BY epoch_us({ts_col})
               ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING)
)
SELECT * EXCLUDE (m, m2),
       CASE WHEN n_prev >= {min_periods}
                 AND sqrt(GREATEST(m2 - m * m, 0.0)) > 0
            THEN ({v} - m) / sqrt(GREATEST(m2 - m * m, 0.0)) END AS z,
       COALESCE(abs(CASE WHEN n_prev >= {min_periods}
                 AND sqrt(GREATEST(m2 - m * m, 0.0)) > 0
            THEN ({v} - m) / sqrt(GREATEST(m2 - m * m, 0.0)) END)
                > {z_thresh!r}, FALSE) AS is_anomaly
FROM zw
"""


def ewma(df: DataFrame, key: Sequence[str] = ("user_id",)) -> DataFrame:
    """Windowed exponentially-weighted moving average: per key,
    ``Σ_j (1−α)^j · v_{t−j} / Σ_j (1−α)^j`` with α = 0.3 over the
    last W = 12 observations (inclusive of the current one), normalized over the
    lags actually present — the trend-smoothing companion of
    :func:`rolling_zscore`.

    The infinite-history EWMA recurrence is not expressible as a window
    aggregate (no per-offset weights in SQL frames) and its prefix-sum
    rewrite ``(1−α)^t · Σ v_i (1−α)^{−i}`` overflows/cancels for long
    keys; truncating at W lags — where the dropped tail weight
    is ``(1−α)^W`` (≈1.4%) — admits an EXACT form: an
    explicit chain of W ``lag()`` terms sharing ONE window
    frame (one shuffle, one Window operator; the chain is left-
    associated identically in the DuckDB oracle, so results are
    bit-comparable). Plan growth is linear in W: right for the
    smoothing spans monitoring uses (O(10)), wrong for W ≫ 100 — at that
    point use :func:`time_grid_fill` + a mapInPandas recurrence.
    """
    key = list(key)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy(*key).orderBy(us)
    decay = 1.0 - 0.3
    num = None
    den = None
    for j in range(12):
        wj = F.lit(decay ** j)
        vj = F.lag(F.col("value"), j).over(w) if j else F.col("value")
        t = F.when(vj.isNotNull(), wj * vj).otherwise(F.lit(0.0))
        d = F.when(vj.isNotNull(), wj).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = d if den is None else den + d
    return df.withColumn("ewma",
                         F.when(den > 0, num / den))


def ewma_sql(table: str, key: Sequence[str] = ("user_id",),
             ts_col: str = "ts", value_col: str = "value",
             alpha: float = 0.3, window: int = 12,
             out_col: str = "ewma", columns: str = "*") -> str:
    """DuckDB oracle: the identical left-associated lag chain over one
    window."""
    key_sql = ", ".join(key)
    v = value_col
    decay = 1.0 - alpha
    nums, dens = [], []
    for j in range(window):
        wj = repr(decay ** j)
        vj = f"lag({v}, {j}) OVER w" if j else v
        nums.append(f"CASE WHEN {vj} IS NOT NULL THEN {wj} * {vj} "
                    f"ELSE 0.0 END")
        dens.append(f"CASE WHEN {vj} IS NOT NULL THEN {wj} "
                    f"ELSE 0.0 END")
    num = " + ".join(nums)
    den = " + ".join(dens)
    return f"""
SELECT {columns},
       CASE WHEN ({den}) > 0 THEN ({num}) / ({den}) END AS {out_col}
FROM {table}
WINDOW w AS (PARTITION BY {key_sql} ORDER BY epoch_us({ts_col}))
"""


def funnel(events: DataFrame, steps: Sequence[str]) -> DataFrame:
    """Ordered-funnel analysis: for each key, step i counts only if an
    event of type ``steps[i]`` occurs STRICTLY AFTER the key's earliest
    completion of step i-1 (first-touch semantics — the per-key
    timestamps are the lexicographically earliest completion chain).
    Returns one row per step: ``(step, event_type, n_users, conv_rate,
    avg_seconds)`` where conv_rate is vs step 1 and avg_seconds is the
    mean time from the step-1 touch.

    Shape: ONE scan of the event stream and ONE shuffle at key
    cardinality — a single hash agg collects each key's per-step-type
    sorted time arrays (funnel-type events only, so per-key state is
    bounded by the key's funnel events), the first-touch chain then
    resolves as pure array expressions (``filter`` + ``get`` — no
    joins, no per-step re-scan), and the per-step readout is one
    explode + hash agg over the key-cardinality chain table. The
    earlier formulation joined the event stream against a growing
    frontier per step and re-executed the whole chain subtree for each
    step's readout — O(steps²) scans; this is O(1).
    """
    if len(steps) < 2:
        raise ValueError("funnel: need at least 2 steps")
    from pyspark.sql import Window
    ev = (events.select(F.col("user_id").alias("k"),
                        F.col("event_type").alias("et"),
                        F.col("ts").alias("t"))
          .filter(F.col("et").isin(list(steps))))
    # collect_list drops the NULLs the unmatched when() produces, so
    # a{i} is exactly the key's sorted times of step-type i
    arrs = ev.groupBy("k").agg(*[
        F.sort_array(F.collect_list(
            F.when(F.col("et") == s, F.col("t")))).alias(f"a{i}")
        for i, s in enumerate(steps)])
    chain = arrs.withColumn("t0", F.get("a0", 0))
    for i in range(1, len(steps)):
        prev = F.col(f"t{i - 1}")
        chain = chain.withColumn(
            f"t{i}",
            F.get(F.filter(F.col(f"a{i}"), lambda x: x > prev), 0))
    chain = chain.filter(F.col("t0").isNotNull())
    pairs = chain.select(
        "t0",
        F.explode(F.array(*[
            F.struct(F.lit(i + 1).alias("step"),
                     F.lit(s).alias("event_type"),
                     F.col(f"t{i}").alias("ti"))
            for i, s in enumerate(steps)])).alias("e"))
    agged = (pairs.filter(F.col("e.ti").isNotNull())
             .groupBy(F.col("e.step").alias("step"),
                      F.col("e.event_type").alias("event_type"))
             .agg(F.count("*").alias("n_users"),
                  F.round(F.avg(_epoch(F.col("e.ti"))
                                - _epoch(F.col("t0"))), 6)
                  .alias("avg_seconds")))
    # stable k-row output even for steps nobody reached; the base for
    # conv_rate is step 1's user count, read off this tiny table by a
    # full-frame window instead of a second pass over the chain
    spark = events.sparkSession
    sdim = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)],
        "step int, event_type string")
    out = (F.broadcast(sdim).join(agged, ["step", "event_type"], "left")
           .withColumn("n_users", F.coalesce("n_users", F.lit(0)))
           .withColumn("n_base",
                       F.max(F.when(F.col("step") == 1, F.col("n_users")))
                       .over(Window.partitionBy())))
    return out.select("step", "event_type", "n_users",
                      F.round(F.col("n_users") / F.col("n_base"), 6)
                      .alias("conv_rate"), "avg_seconds")


def funnel_sql(table: str, steps: Sequence[str], key: str = "user_id",
               type_col: str = "event_type", time_col: str = "ts") -> str:
    """DuckDB oracle: the identical first-touch chain as CTE layers."""
    layers = [f"""
f0 AS (SELECT {key} AS k, MIN({time_col}) AS t0
       FROM {table} WHERE {type_col} = '{steps[0]}' GROUP BY 1)"""]
    for i, s in enumerate(steps[1:], start=1):
        prev_ts = ", ".join(f"t{j}" for j in range(i))
        layers.append(f"""
f{i} AS (SELECT e.{key} AS k, {prev_ts}, MIN(e.{time_col}) AS t{i}
         FROM {table} e JOIN f{i - 1} p ON p.k = e.{key}
         WHERE e.{type_col} = '{s}' AND e.{time_col} > p.t{i - 1}
         GROUP BY e.{key}, {prev_ts})""")
    selects = []
    for i, s in enumerate(steps):
        selects.append(f"""
SELECT {i + 1} AS step, '{s}' AS event_type, COUNT(*) AS n_users,
       ROUND(AVG(epoch(t{i}) - epoch(t0)), 6) AS avg_seconds
FROM f{i}""")
    union = " UNION ALL ".join(selects)
    return f"""
WITH {",".join(layers)},
steprows AS ({union})
SELECT step, event_type, n_users,
       ROUND(n_users * 1.0 / (SELECT COUNT(*) FROM f0), 6) AS conv_rate,
       avg_seconds
FROM steprows
"""


def cusum_alarms(df: DataFrame) -> DataFrame:
    """Two-sided standardized CUSUM drift detection per key (Page's
    sequential test): residuals standardize against the key's own
    mean/std, the positive and negative cumulative sums
    ``S± = max(0, S± ± z − 0.5)`` reset on every alarm (``S± > 4``), and
    the output is one row per key: ``(…, n_obs, n_alarms)``. Catches
    slow drifts a pointwise z-score (:func:`rolling_zscore`) never
    flags.

    Shape: one hash agg for the per-key moments, one co-partitioned
    join back, one hash agg collecting the key's time-ordered residual
    array (state bounded by the key's series length — the per-entity
    series regime, same as :func:`funnel`), then the sequential scan as
    a pure ``aggregate`` fold expression. No window, no Python, no
    driver state.
    """
    keys = ["user_id"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = df.select(*keys, us.alias("_us"),
                     F.col("value").cast("double").alias("_v"))
    stats = (base.groupBy(*keys)
             .agg(F.count("_v").alias("_n"),
                  F.sum("_v").alias("_s"),
                  F.sum(F.col("_v") * F.col("_v")).alias("_s2")))
    mu = F.col("_s") / F.col("_n")
    sd = F.sqrt(F.greatest(F.col("_s2") / F.col("_n") - mu * mu,
                           F.lit(0.0)))
    j = base.join(stats, keys)
    z = F.when(sd > 0, (F.col("_v") - mu) / sd).otherwise(F.lit(0.0))
    arr = (j.select(*keys, F.struct(F.col("_us").alias("us"),
                                    z.alias("z")).alias("_e"))
           .groupBy(*keys)
           .agg(F.sort_array(F.collect_list("_e")).alias("_es")))
    zs = F.transform(F.col("_es"), lambda e: e["z"])
    zero = F.struct(F.lit(0.0).alias("sp"), F.lit(0.0).alias("sn"),
                    F.lit(0).cast("long").alias("na"))

    def step(acc, x):
        sp1 = F.greatest(F.lit(0.0), acc["sp"] + x - F.lit(0.5))
        sn1 = F.greatest(F.lit(0.0), acc["sn"] - x - F.lit(0.5))
        alarm = (sp1 > 4.0) | (sn1 > 4.0)
        return F.struct(
            F.when(alarm, F.lit(0.0)).otherwise(sp1).alias("sp"),
            F.when(alarm, F.lit(0.0)).otherwise(sn1).alias("sn"),
            (acc["na"] + F.when(alarm, F.lit(1)).otherwise(F.lit(0)))
            .alias("na"))

    fold = F.aggregate(zs, zero, step)
    return arr.select(*keys,
                      F.size("_es").alias("n_obs"),
                      fold["na"].alias("n_alarms"))


def cusum_alarms_sql(table: str, key_cols: Sequence[str] = ("user_id",),
                     ts_col: str = "ts", value_col: str = "value",
                     k: float = 0.5, h: float = 4.0) -> str:
    """DuckDB oracle: identical standardization; the inherently
    sequential CUSUM recursion runs as a RECURSIVE CTE stepping each
    key's row_number chain (one recursion level per observation).
    Not ``list_reduce``: DuckDB 1.0 evaluates multi-field struct
    lambdas with inconsistent accumulator bindings per field (verified
    on a 3-element repro — different fields of one step saw different
    ``a``), so a struct fold silently corrupts the state."""
    keys = list(key_cols)
    ks = ", ".join(keys)
    ko = ", ".join(f"o.{c}" for c in keys)
    join_on = " AND ".join(f"o.{c} = r.{c}" for c in keys)
    jn = " AND ".join(f"r.{c} = n.{c}" for c in keys)
    kf, hf = float(k), float(h)
    sp1 = f"GREATEST(0.0, r.sp + o.z - {kf!r})"
    sn1 = f"GREATEST(0.0, r.sn - o.z - {kf!r})"
    alarm1 = f"({sp1} > {hf!r} OR {sn1} > {hf!r})"
    sp0 = f"GREATEST(0.0, z - {kf!r})"
    sn0 = f"GREATEST(0.0, -z - {kf!r})"
    alarm0 = f"({sp0} > {hf!r} OR {sn0} > {hf!r})"
    return f"""
WITH RECURSIVE cb AS (
  SELECT {ks}, epoch_us(CAST({ts_col} AS TIMESTAMP)) AS us,
         CAST({value_col} AS DOUBLE) AS v
  FROM {table}
),
cst AS (
  SELECT {ks}, COUNT(v) AS n, SUM(v) AS s, SUM(v * v) AS s2
  FROM cb GROUP BY {ks}
),
cz AS (
  SELECT cb.*, CASE WHEN sqrt(GREATEST(s2 / n - (s / n) * (s / n), 0.0))
                         > 0
               THEN (v - s / n)
                    / sqrt(GREATEST(s2 / n - (s / n) * (s / n), 0.0))
               ELSE 0.0 END AS z
  FROM cb JOIN cst USING ({ks})
),
co AS (
  SELECT {ks}, z,
         ROW_NUMBER() OVER (PARTITION BY {ks} ORDER BY us, z) AS i
  FROM cz
),
cn AS (SELECT {ks}, MAX(i) AS n_obs FROM co GROUP BY {ks}),
rec AS (
  SELECT {ks}, i,
         CASE WHEN {alarm0} THEN 0.0 ELSE {sp0} END AS sp,
         CASE WHEN {alarm0} THEN 0.0 ELSE {sn0} END AS sn,
         CASE WHEN {alarm0} THEN 1 ELSE 0 END AS na
  FROM co WHERE i = 1
  UNION ALL
  SELECT {ko}, o.i,
         CASE WHEN {alarm1} THEN 0.0 ELSE {sp1} END,
         CASE WHEN {alarm1} THEN 0.0 ELSE {sn1} END,
         r.na + CASE WHEN {alarm1} THEN 1 ELSE 0 END
  FROM rec r JOIN co o ON {join_on} AND o.i = r.i + 1
)
SELECT r.{keys[0]}{"".join(", r." + c for c in keys[1:])},
       n.n_obs, CAST(r.na AS BIGINT) AS n_alarms
FROM rec r JOIN cn n ON {jn} AND r.i = n.n_obs
"""


def savgol_coeffs(window: int = 5, order: int = 2):
    """Savitzky–Golay FIR coefficients (symmetric window, evaluate at
    the center): row 0 of the Vandermonde pseudo-inverse — the smoothed
    value is the constant term of the local least-squares polynomial.
    Deterministic Python floats, injected literally into both the
    engine expression and the oracle SQL."""
    import numpy as np
    if window % 2 != 1 or window < 3:
        raise ValueError("savgol: window must be odd and >= 3")
    if order >= window:
        raise ValueError("savgol: order must be < window")
    m = window // 2
    a = np.vander(np.arange(-m, m + 1, dtype=float), order + 1,
                  increasing=True)
    return [float(c) for c in np.linalg.pinv(a)[0]]


def sg_smooth(df: DataFrame, value_col: str = "mean_v",
              out_col: str = "v_smooth") -> DataFrame:
    """Savitzky–Golay smoothing of a keyed time series — the standard
    NDVI/phenology denoiser (local least-squares polynomial ≡ one fixed
    FIR filter, window 5, order 2): per ``aoi``, the smoothed value is a
    5-tap dot product of lag/lead neighbors ordered by ``date_str``. Edge rows
    (incomplete support) yield NULL — consumers choose their own edge
    policy rather than inheriting a silent one.

    Shape: ONE shuffle (the key window); every tap is a lag/lead over
    the same partitioning+ordering, so all taps share a single exchange
    and sort; the dot product is pure codegen. At 10^12 rows the series
    cardinality per key is dates-per-AOI — window state is trivially
    bounded.
    """
    coeffs = savgol_coeffs(5, 2)
    m = 2
    w = Window.partitionBy("aoi").orderBy("date_str")
    v = F.col(value_col)

    def tap(j):
        if j < 0:
            return F.lag(v, -j).over(w)
        if j > 0:
            return F.lead(v, j).over(w)
        return v

    expr = None
    for j in range(-m, m + 1):
        term = F.lit(coeffs[j + m]) * tap(j)
        expr = term if expr is None else expr + term
    return df.withColumn(out_col, F.round(expr, 6))


def sg_smooth_sql(series_sql: str, key_cols: Sequence[str] = ("aoi",),
                  time_col: str = "date_str", value_col: str = "mean_v",
                  window: int = 5, order: int = 2,
                  out_col: str = "v_smooth") -> str:
    """DuckDB oracle: identical taps, identical literal coefficients,
    identical left-associated sum."""
    coeffs = savgol_coeffs(window, order)
    m = window // 2
    keys = ", ".join(key_cols)

    def tap(j):
        if j < 0:
            return f"lag({value_col}, {-j}) OVER sgw"
        if j > 0:
            return f"lead({value_col}, {j}) OVER sgw"
        return value_col

    terms = " + ".join(f"{coeffs[j + m]!r} * {tap(j)}"
                       for j in range(-m, m + 1))
    return f"""
WITH sgs AS ({series_sql})
SELECT *, ROUND({terms}, 6) AS {out_col}
FROM sgs
WINDOW sgw AS (PARTITION BY {keys} ORDER BY {time_col})
"""


def transition_counts(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix of user behavior: per
    consecutive event pair within each ``user_id`` (time order), count
    ``from_type → to_type`` and row-normalize to transition
    probabilities — the session-model / next-action-prediction
    primitive.

    Shape: ONE shuffle on the key (the lag window), then a hash agg at
    type² cardinality and a row-normalizing window over that tiny
    matrix. Equal timestamps order by (ts, type) — deterministic, and
    (ts, type) duplicates are interchangeable so the pair multiset is
    stable under any residual tie order.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pairs = (events.select(F.col("user_id").alias("k"),
                           F.col("event_type").alias("to_type"),
                           us.alias("_us"))
             .withColumn("from_type", F.lag("to_type").over(
                 Window.partitionBy("k").orderBy("_us", "to_type")))
             .filter(F.col("from_type").isNotNull()))
    counts = (pairs.groupBy("from_type", "to_type")
              .agg(F.count("*").alias("n")))
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"))


def transition_counts_sql(table: str, key: str = "user_id",
                          type_col: str = "event_type",
                          time_col: str = "ts") -> str:
    """DuckDB oracle: identical lag window and normalization."""
    return f"""
WITH tp AS (
  SELECT {key} AS k, {type_col} AS to_type,
         lag({type_col}) OVER (PARTITION BY {key}
                               ORDER BY epoch_us({time_col}), {type_col})
           AS from_type
  FROM {table}
),
tc AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM tp WHERE from_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       ROUND(n * 1.0 / CAST(SUM(n) OVER (PARTITION BY from_type)
                            AS BIGINT), 6) AS p
FROM tc
"""


def retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention matrix: users cohorted by the week of
    their first event; cell (cohort, offset) counts distinct users from
    that cohort active ``offset`` weeks later, with the rate vs cohort
    size. The growth-analytics companion of :func:`funnel`.

    Shape: one (key, week) distinct reduction of the stream (map-side
    partial dedup → shuffle at user-week cardinality, ≪ events), a
    key-cardinality MIN aggregation for cohort assignment, one key-equi
    join back, and two small hash aggs at matrix cardinality. Weeks via
    ``date_trunc('week')`` (Monday start in both engines), so the
    offset is an exact integer day-diff / 7.
    """
    acts = (events.select(F.col("user_id").alias("k"),
                          F.date_trunc("week", F.col("ts")).alias("w"))
            .distinct())
    cohort = acts.groupBy("k").agg(F.min("w").alias("cw"))
    cells = (acts.join(cohort, "k")
             .select("cw", (F.datediff(F.to_date("w"), F.to_date("cw")) / 7)
                     .cast("int").alias("offset"))
             .groupBy("cw", "offset")
             .agg(F.count("*").alias("n_active")))
    sizes = cohort.groupBy("cw").agg(F.count("*").alias("n_cohort"))
    return (cells.join(sizes, "cw")
            .select(F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
                    "offset", "n_active", "n_cohort",
                    F.round(F.col("n_active") / F.col("n_cohort"), 6)
                    .alias("retention")))


def retention_sql(table: str, key: str = "user_id",
                  time_col: str = "ts") -> str:
    """DuckDB oracle: identical cohorting and offset arithmetic."""
    return f"""
WITH racts AS (
  SELECT DISTINCT {key} AS k, date_trunc('week', {time_col}) AS w
  FROM {table}
),
rcohort AS (SELECT k, MIN(w) AS cw FROM racts GROUP BY k),
rcells AS (
  SELECT cw, CAST(date_diff('day', CAST(cw AS DATE), CAST(w AS DATE)) / 7
              AS INT) AS "offset", COUNT(*) AS n_active
  FROM racts JOIN rcohort USING (k)
  GROUP BY 1, 2
),
rsizes AS (SELECT cw, COUNT(*) AS n_cohort FROM rcohort GROUP BY cw)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, "offset", n_active,
       n_cohort, ROUND(n_active * 1.0 / n_cohort, 6) AS retention
FROM rcells JOIN rsizes USING (cw)
"""


def rollup_counts(events: DataFrame) -> DataFrame:
    """Native ROLLUP over (day, dimension): per-cell count + value sum
    at every aggregation level — (day, dim), (day), and grand total —
    in ONE pass. Spark's Expand emits all grouping sets from each input
    row before a single hash aggregation (map-side combined), so the
    cost is levels×rows map work and a shuffle at Σ group-cardinality —
    never one job per level. NULL grouping markers are normalized to
    'ALL' so the output is join/oracle-friendly without GROUPING()
    bitmask semantics."""
    d = F.date_format(F.date_trunc("day", F.col("ts")),
                      "yyyy-MM-dd")
    out = (events.select(d.alias("day"), F.col("event_type").alias("dim"),
                         F.col("value").alias("v"))
           .rollup("day", "dim")
           .agg(F.count("*").alias("n"),
                F.round(F.sum("v"), 6).alias("value_sum")))
    return out.select(
        F.coalesce("day", F.lit("ALL")).alias("day"),
        F.coalesce("dim", F.lit("ALL")).alias("dim"), "n", "value_sum")


def rollup_counts_sql(table: str, time_col: str = "ts",
                      dim_col: str = "event_type",
                      value_col: str = "value") -> str:
    """DuckDB oracle: GROUP BY ROLLUP with the same normalization."""
    return f"""
SELECT COALESCE(strftime(date_trunc('day', {time_col}), '%Y-%m-%d'), 'ALL')
         AS day,
       COALESCE({dim_col}, 'ALL') AS dim,
       COUNT(*) AS n, ROUND(SUM({value_col}), 6) AS value_sum
FROM {table}
GROUP BY ROLLUP (strftime(date_trunc('day', {time_col}), '%Y-%m-%d'),
                 {dim_col})
"""


def concurrency_daily(events: DataFrame) -> DataFrame:
    """Peak-load analysis: per day, how many sessions were active at
    once (closed-interval semantics — a session [s, e] counts at both
    endpoints, so single-event sessions count too) plus the day's
    session-start count. The sweep-line pattern: sessions become
    (+1 at clipped start, -1 at clipped end) endpoint events; running
    prefix sum = instantaneous concurrency; ties order (+1 before -1)
    so back-to-back sessions overlap at the boundary instant.

    Shape: :func:`sessionize` (one key shuffle) → interval agg at
    session cardinality → day-span explode (sessions rarely span days;
    the explode factor is ~1) → ONE window per day partition over
    endpoint cardinality. Partitioning by day keeps the sweep
    parallel — no global ordered window — at the cost of clipping
    intervals to day boundaries, which is exactly the semantics a
    per-day report wants.
    """
    s = sessionize(events)
    iv = (s.groupBy("user_id", "session_seq")
          .agg(F.min(F.col("ts").cast("timestamp")).alias("ivs"),
               F.max(F.col("ts").cast("timestamp")).alias("ive")))
    spanned = iv.select(
        "ivs", "ive",
        F.explode(F.sequence(F.to_date("ivs"), F.to_date("ive")))
        .alias("day"))
    day_lo = F.col("day").cast("timestamp")
    day_hi = F.date_add(F.col("day"), 1).cast("timestamp")
    clipped = spanned.select(
        "day",
        F.greatest(F.col("ivs"), day_lo).alias("cs"),
        F.least(F.col("ive"), day_hi).alias("ce"),
        (F.col("ivs") >= day_lo).alias("starts_today"))
    pts = (clipped.select("day", F.col("cs").alias("t"),
                          F.lit(1).alias("delta"), "starts_today")
           .unionByName(clipped.select(
               "day", F.col("ce").alias("t"),
               F.lit(-1).alias("delta"),
               F.lit(False).alias("starts_today"))))
    w = (Window.partitionBy("day")
         .orderBy(F.col("t").asc(), F.col("delta").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    run = pts.withColumn("conc", F.sum("delta").over(w))
    return (run.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
            .agg(F.max("conc").cast("long").alias("max_concurrency"),
                 F.sum(F.when(F.col("starts_today")
                              & (F.col("delta") == 1), 1).otherwise(0))
                 .cast("long").alias("n_sessions_started"))
            )


def concurrency_daily_sql(table: str, key: Sequence[str] = ("user_id",),
                          ts_col: str = "ts",
                          gap_seconds: float = 1800.0) -> str:
    """DuckDB oracle: identical sessionize → clip → sweep chain."""
    key_sql = ", ".join(key)
    inner = sessionize_sql(table, key=key, ts_col=ts_col,
                           gap_seconds=gap_seconds,
                           columns=f"{key_sql}, {ts_col}")
    return f"""
WITH sess AS ({inner}),
civ AS (
  SELECT {key_sql}, session_seq,
         MIN(CAST({ts_col} AS TIMESTAMP)) AS ivs,
         MAX(CAST({ts_col} AS TIMESTAMP)) AS ive
  FROM sess GROUP BY {key_sql}, session_seq
),
cspan AS (
  SELECT ivs, ive, CAST(u.d AS DATE) AS day
  FROM civ, unnest(generate_series(CAST(ivs AS DATE),
                                   CAST(ive AS DATE),
                                   INTERVAL 1 DAY)) u(d)
),
cclip AS (
  SELECT day,
         GREATEST(ivs, CAST(day AS TIMESTAMP)) AS cs,
         LEAST(ive, CAST(day + 1 AS TIMESTAMP)) AS ce,
         (ivs >= CAST(day AS TIMESTAMP)) AS starts_today
  FROM cspan
),
cpts AS (
  SELECT day, cs AS t, 1 AS delta, starts_today FROM cclip
  UNION ALL
  SELECT day, ce AS t, -1 AS delta, FALSE FROM cclip
),
crun AS (
  SELECT day, t, delta, starts_today,
         SUM(delta) OVER (PARTITION BY day ORDER BY t ASC, delta DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS conc
  FROM cpts
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(MAX(conc) AS BIGINT) AS max_concurrency,
       CAST(SUM(CASE WHEN starts_today AND delta = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sessions_started
FROM crun GROUP BY day
"""


# ---------------------------------------------------------------------------
# Seasonal harmonic regression (closed-form, one aggregation)
# ---------------------------------------------------------------------------

def _harmonic_exprs(period_days: float):
    """Shared Spark/DuckDB SQL expression strings for the pooled seasonal
    harmonic fit v ≈ a0 + a1·cos(ωt) + b1·sin(ωt), t = day-of-year.

    One source of truth for BOTH engines: every formula is emitted once
    as ANSI-SQL text and parsed by Spark (``F.expr``) and DuckDB alike,
    so the floating-point evaluation order is identical and round-6
    outputs match bit-for-bit. Cramer's rule on the 3×3 symmetric normal
    equations — no iteration, no collect, the entire fit is ONE
    map-side-combinable hash aggregation at key cardinality.
    """
    w = repr(2.0 * math.pi / float(period_days))
    feats = {"c": f"cos(doy * {w})", "s": f"sin(doy * {w})"}
    sums = {
        "n_obs": "COUNT(v)",
        "sy": "SUM(v)", "syy": "SUM(v * v)",
        "sc": "SUM(c)", "ss": "SUM(s)",
        "scc": "SUM(c * c)", "sss": "SUM(s * s)", "scs": "SUM(c * s)",
        "syc": "SUM(v * c)", "sys": "SUM(v * s)",
    }
    det = ("n_obs * (scc * sss - scs * scs) - sc * (sc * sss - scs * ss)"
           " + ss * (sc * scs - scc * ss)")
    a0 = ("(sy * (scc * sss - scs * scs) - sc * (syc * sss - scs * sys)"
          " + ss * (syc * scs - scc * sys)) / det")
    a1 = ("(n_obs * (syc * sss - sys * scs) - sy * (sc * sss - scs * ss)"
          " + ss * (sc * sys - syc * ss)) / det")
    b1 = ("(n_obs * (scc * sys - scs * syc) - sc * (sc * sys - syc * ss)"
          " + sy * (sc * scs - scc * ss)) / det")
    sse = "syy - (a0 * sy + a1 * syc + b1 * sys)"
    sst = "syy - sy * sy / n_obs"
    return w, feats, sums, det, a0, a1, b1, sse, sst


def harmonic_fit(df: DataFrame, value_col: str = "mean_v") -> DataFrame:
    """Pooled seasonal harmonic regression per key — the standard EO
    seasonality model (cf. HANTS / Landsat CCDC's harmonic terms): fit
    ``v ≈ a0 + a1·cos(ωt) + b1·sin(ωt)`` with ω = 2π/period over
    day-of-year, via the closed-form normal equations. Emits the fitted
    coefficients, seasonal amplitude and phase, and R².

    Day-of-year (not absolute day) keeps the trig argument ≤ 2π·366/P,
    where Java's and C's libm agree to the ulp — multi-year series pool
    into one seasonal cycle, which is the operator's stated semantics.

    Shape: a feature projection (pure codegen) and ONE hash aggregation
    at key cardinality with map-side combine — ten running sums — then
    a pure projection solving the 3×3 system by Cramer's rule. No
    window, no second pass, no driver math: at 10^12 rows this is a
    single shuffle of ten doubles per key.
    """
    w, feats, sums, det, a0, a1, b1, sse, sst = _harmonic_exprs(365.25)
    base = df.select(
        "aoi", F.expr("CAST(dayofyear(CAST(date_str AS DATE)) AS DOUBLE)")
        .alias("doy"),
        F.col(value_col).cast("double").alias("v"))
    base = base.withColumn("c", F.expr(feats["c"])) \
               .withColumn("s", F.expr(feats["s"]))
    agg = base.groupBy("aoi").agg(
        *[F.expr(e).alias(n) for n, e in sums.items()])
    solved = (agg.withColumn("det", F.expr(det))
                 .withColumn("a0", F.expr(a0))
                 .withColumn("a1", F.expr(a1))
                 .withColumn("b1", F.expr(b1)))
    return solved.select(
        "aoi", "n_obs", F.expr("ROUND(a0, 6)").alias("a0"),
        F.expr("ROUND(a1, 6)").alias("a1"),
        F.expr("ROUND(b1, 6)").alias("b1"),
        F.expr("ROUND(sqrt(a1 * a1 + b1 * b1), 6)").alias("amplitude"),
        F.expr("ROUND(atan2(b1, a1), 6)").alias("phase_rad"),
        F.expr(f"ROUND(CASE WHEN ({sst}) > 0 THEN 1.0 - ({sse}) / ({sst})"
               f" END, 6)").alias("r2"))


def harmonic_fit_sql(series_sql: str, key_cols: Sequence[str] = ("aoi",),
                     time_col: str = "date_str", value_col: str = "mean_v",
                     period_days: float = 365.25) -> str:
    """DuckDB oracle: the SAME expression strings :func:`harmonic_fit`
    hands to Spark's parser — identical feature math, identical sums,
    identical Cramer solve, identical rounding."""
    w, feats, sums, det, a0, a1, b1, sse, sst = _harmonic_exprs(period_days)
    keys = ", ".join(key_cols)
    sum_sql = ", ".join(f"{e} AS {n}" for n, e in sums.items())
    return f"""
WITH hfs AS ({series_sql}),
hfb AS (
  SELECT {keys},
         CAST(dayofyear(CAST({time_col} AS DATE)) AS DOUBLE) AS doy,
         CAST({value_col} AS DOUBLE) AS v
  FROM hfs
),
hff AS (SELECT {keys}, v, {feats['c']} AS c, {feats['s']} AS s FROM hfb),
hfa AS (SELECT {keys}, {sum_sql} FROM hff GROUP BY {keys}),
hfd AS (SELECT *, {det} AS det FROM hfa),
hfsol AS (SELECT *, {a0} AS a0, {a1} AS a1, {b1} AS b1 FROM hfd)
SELECT {keys}, n_obs,
       ROUND(a0, 6) AS a0,
       ROUND(a1, 6) AS a1,
       ROUND(b1, 6) AS b1,
       ROUND(sqrt(a1 * a1 + b1 * b1), 6) AS amplitude,
       ROUND(atan2(b1, a1), 6) AS phase_rad,
       ROUND(CASE WHEN ({sst}) > 0 THEN 1.0 - ({sse}) / ({sst}) END, 6)
         AS r2
FROM hfsol
"""


# ---------------------------------------------------------------------------
# Phenology metrics (threshold method)
# ---------------------------------------------------------------------------

def phenology(df: DataFrame, value_col: str = "mean_v") -> DataFrame:
    """Threshold-method phenology metrics per key — start / peak / end
    of season from a (typically smoothed) vegetation-index series: the
    season is where the series sits at or above
    ``vmin + 0.5·(vmax − vmin)`` (the classic 50%-amplitude rule);
    SOS/EOS are the first/last such dates, the peak date is the latest
    date attaining the maximum (deterministic argmax tie-break).

    Shape: one hash agg per key for (vmin, vmax, n), a key-co-partitioned
    join back to the series (both sides shuffle once on the key — the
    stats side is key-cardinality and AQE broadcasts it when small), and
    one conditional agg for the crossings. No window, no per-row state;
    at 10^12 rows the cost is two aggs and one join on the series key.
    """
    v = F.col(value_col).cast("double")
    stats = (df.groupBy("aoi")
             .agg(F.min(v).alias("_vmin"), F.max(v).alias("_vmax"),
                  F.count(v).alias("_n")))
    thr = F.col("_vmin") + F.lit(0.5) * (F.col("_vmax")
                                                 - F.col("_vmin"))
    j = df.join(stats, ["aoi"]).withColumn("_thr", thr)
    t = F.col("date_str")
    above = v >= F.col("_thr")
    out = (j.groupBy("aoi")
           .agg(F.min("_n").alias("n_dates"),
                F.min("_vmin").alias("_vmin"),
                F.min("_vmax").alias("_vmax"),
                F.min(F.when(above, t)).alias("sos_date"),
                F.max(F.when(above, t)).alias("eos_date"),
                F.max(F.when(v == F.col("_vmax"), t)).alias("peak_date"),
                F.sum(above.cast("long")).alias("n_above")))
    return out.select(
        "aoi", "n_dates", "n_above", F.round("_vmin", 6).alias("vmin"),
        F.round("_vmax", 6).alias("vmax"),
        "sos_date", "peak_date", "eos_date",
        F.datediff(F.col("eos_date").cast("date"),
                   F.col("sos_date").cast("date")).cast("int")
        .alias("season_days"))


def phenology_sql(series_sql: str, key_cols: Sequence[str] = ("aoi",),
                  time_col: str = "date_str", value_col: str = "mean_v",
                  frac: float = 0.5) -> str:
    """DuckDB oracle: identical two-agg + join shape, identical
    threshold arithmetic and argmax tie-break."""
    keys = ", ".join(key_cols)
    return f"""
WITH phs AS ({series_sql}),
phst AS (
  SELECT {keys}, MIN(CAST({value_col} AS DOUBLE)) AS vmin,
         MAX(CAST({value_col} AS DOUBLE)) AS vmax,
         COUNT({value_col}) AS n
  FROM phs GROUP BY {keys}
),
phj AS (
  SELECT p.*, s.vmin, s.vmax, s.n,
         s.vmin + {float(frac)!r} * (s.vmax - s.vmin) AS thr
  FROM phs p JOIN phst s USING ({keys})
),
pha AS (
  SELECT {keys}, MIN(n) AS n_dates,
         MIN(vmin) AS vmin_, MIN(vmax) AS vmax_,
         MIN(CASE WHEN CAST({value_col} AS DOUBLE) >= thr
                  THEN {time_col} END) AS sos_date,
         MAX(CASE WHEN CAST({value_col} AS DOUBLE) >= thr
                  THEN {time_col} END) AS eos_date,
         MAX(CASE WHEN CAST({value_col} AS DOUBLE) = vmax
                  THEN {time_col} END) AS peak_date,
         CAST(SUM(CASE WHEN CAST({value_col} AS DOUBLE) >= thr
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_above
  FROM phj GROUP BY {keys}
)
SELECT {keys}, n_dates, n_above,
       ROUND(vmin_, 6) AS vmin, ROUND(vmax_, 6) AS vmax,
       sos_date, peak_date, eos_date,
       CAST(date_diff('day', CAST(sos_date AS DATE),
                      CAST(eos_date AS DATE)) AS INT) AS season_days
FROM pha
"""


# ---------------------------------------------------------------------------
# Mann-Kendall trend test + Sen's slope (monotonic-trend detection)
# ---------------------------------------------------------------------------

#: Shared Spark/DuckDB formula strings over the per-key reduction columns
#: (n, s_raw, tie_sum) — one source of truth so both engines evaluate the
#: variance and z-score with identical floating-point expression trees.
_MK_VAR = "(n * (n - 1.0) * (2.0 * n + 5.0) - tie_sum) / 18.0"
_MK_Z = ("CASE WHEN var_s <= 0 THEN CAST(NULL AS DOUBLE) "
         "WHEN s_raw > 0 THEN (s_raw - 1.0) / sqrt(var_s) "
         "WHEN s_raw < 0 THEN (s_raw + 1.0) / sqrt(var_s) "
         "ELSE 0.0 END")


def mann_kendall(df: DataFrame, key_cols: Sequence[str] = ("aoi",),
                 time_col: str = "date_str", value_col: str = "mean_v"
                 ) -> DataFrame:
    """Mann-Kendall monotonic-trend test with tie correction plus Sen's
    slope per key — the standard nonparametric greening/browning trend
    detector for EO time series (is NDVI going up, down, or neither,
    without assuming linear-Gaussian errors?):

    ``S = Σᵢ<ⱼ sign(vⱼ − vᵢ)``,
    ``Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18`` (t_g = tie
    group sizes), ``Z = (S∓1)/√Var(S)``, and Sen's slope = the exact
    median of all pairwise slopes ``(vⱼ−vᵢ)/(tⱼ−tᵢ)`` in units/day.

    Shape: the pair enumeration is a key-co-partitioned self-join — the
    quadratic blowup is per-SERIES-length (bounded: #observation dates
    per key, ≤ a few hundred for any satellite record), never per-table;
    all three reductions (pair stats, tie groups, counts) are hash aggs
    shuffling only on the key, then two key-cardinality joins. At 10⁹
    keys × 10² dates this moves ~10¹³ pair rows through map-side
    combine but only ~10⁹ aggregated rows across the wire.
    """
    t = (f"CAST(datediff(CAST({time_col} AS DATE), DATE '1970-01-01')"
         " AS DOUBLE)")
    base = df.select(*key_cols, F.expr(t).alias("t"),
                     F.col(value_col).cast("double").alias("v"))
    # four downstream branches (pair join a/b, counts, tie groups) would
    # each re-execute the upstream series pipeline — a full re-scan per
    # branch when the series is derived from raw pixels. One lazy
    # checkpoint materializes the (tiny, key x dates cardinality) series
    # once; every branch reads the materialized copy.
    base = base.localCheckpoint(eager=False)
    a = base.select(*key_cols, F.col("t").alias("ta"),
                    F.col("v").alias("va"))
    b = base.select(*key_cols, F.col("t").alias("tb"),
                    F.col("v").alias("vb"))
    pairs = a.join(b, on=list(key_cols)).filter(F.col("ta") < F.col("tb"))
    pagg = pairs.groupBy(*key_cols).agg(
        F.expr("SUM(SIGN(vb - va))").alias("s_raw"),
        F.expr("percentile((vb - va) / (tb - ta), 0.5)").alias("sen"))
    nagg = base.groupBy(*key_cols).agg(
        F.expr("CAST(COUNT(v) AS DOUBLE)").alias("n"))
    ties = (base.groupBy(*key_cols, "v")
            .agg(F.expr("CAST(COUNT(*) AS DOUBLE)").alias("c"))
            .groupBy(*key_cols)
            .agg(F.expr("SUM(c * (c - 1.0) * (2.0 * c + 5.0))")
                 .alias("tie_sum")))
    j = (nagg.join(ties, on=list(key_cols))
         .join(pagg, on=list(key_cols))
         .withColumn("var_s", F.expr(_MK_VAR)))
    return j.select(
        *key_cols,
        F.expr("CAST(n AS BIGINT)").alias("n_obs"),
        F.expr("CAST(s_raw AS BIGINT)").alias("s_stat"),
        F.expr("ROUND(var_s, 6)").alias("var_s"),
        F.expr(f"ROUND({_MK_Z}, 6)").alias("mk_z"),
        F.expr("ROUND(sen, 6)").alias("sen_slope"))


def mann_kendall_sql(series_sql: str, key_cols: Sequence[str] = ("aoi",),
                     time_col: str = "date_str", value_col: str = "mean_v"
                     ) -> str:
    """DuckDB oracle: identical pair join, sign sum, tie correction,
    shared variance/z formula strings, and quantile_cont median (same
    linear-interpolation definition as Spark's exact percentile)."""
    keys = ", ".join(key_cols)
    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    akeys = ", ".join(f"a.{k} AS {k}" for k in key_cols)
    agg_keys = ", ".join(f"a.{k}" for k in key_cols)
    return f"""
WITH mks AS ({series_sql}),
mkb AS (
  SELECT {keys},
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST({time_col} AS DATE)) AS DOUBLE) AS t,
         CAST({value_col} AS DOUBLE) AS v
  FROM mks
),
mkp AS (
  SELECT {akeys}, SUM(SIGN(b.v - a.v)) AS s_raw,
         quantile_cont((b.v - a.v) / (b.t - a.t), 0.5) AS sen
  FROM mkb a JOIN mkb b ON {on} AND a.t < b.t
  GROUP BY {agg_keys}
),
mkn AS (SELECT {keys}, CAST(COUNT(v) AS DOUBLE) AS n
        FROM mkb GROUP BY {keys}),
mkt AS (
  SELECT {keys}, SUM(c * (c - 1.0) * (2.0 * c + 5.0)) AS tie_sum
  FROM (SELECT {keys}, v, CAST(COUNT(*) AS DOUBLE) AS c
        FROM mkb GROUP BY {keys}, v) tg
  GROUP BY {keys}
),
mkj AS (
  SELECT mkn.*, mkt.tie_sum, mkp.s_raw, mkp.sen, {_MK_VAR} AS var_s
  FROM mkn JOIN mkt USING ({keys}) JOIN mkp USING ({keys})
)
SELECT {keys},
       CAST(n AS BIGINT) AS n_obs,
       CAST(s_raw AS BIGINT) AS s_stat,
       ROUND(var_s, 6) AS var_s,
       ROUND({_MK_Z}, 6) AS mk_z,
       ROUND(sen, 6) AS sen_slope
FROM mkj
"""


def harmonic_anomaly(df: DataFrame, value_col: str = "mean_v") -> DataFrame:
    """Seasonal-anomaly detection — score every observation against the
    key's own :func:`harmonic_fit` curve: residual, per-key residual
    RMSE, and an ``is_anomaly`` flag at ``|resid| > 2·rmse``
    (drought / disturbance / sensor-glitch detection against the
    expected phenology, the CCDC change-detection core loop).

    Shape: the closed-form fit is ONE hash agg at key cardinality
    (ten sums, as harmonic_fit), broadcast-joined back onto the rows;
    the per-key RMSE is a second key-cardinality agg joined the same
    way; the residual/flag math is pure codegen. A lazy localCheckpoint
    fences the featurized rows so the three consumers read one
    materialization. Same shared-expression-string discipline as the
    fit itself — both engines parse identical formula text.
    """
    w, feats, sums, det, a0, a1, b1, _, _ = _harmonic_exprs(365.25)
    base = df.select(
        "aoi", F.col("date_str").alias("t_str"),
        F.expr("CAST(dayofyear(CAST(date_str AS DATE)) AS DOUBLE)")
        .alias("doy"),
        F.col(value_col).cast("double").alias("v"))
    base = (base.withColumn("c", F.expr(feats["c"]))
                .withColumn("s", F.expr(feats["s"]))
                .localCheckpoint(eager=False))
    fit = (base.groupBy("aoi")
           .agg(*[F.expr(e).alias(n) for n, e in sums.items()])
           .withColumn("det", F.expr(det))
           .withColumn("a0", F.expr(a0))
           .withColumn("a1", F.expr(a1))
           .withColumn("b1", F.expr(b1))
           .select("aoi", "a0", "a1", "b1"))
    scored = (base.join(F.broadcast(fit), on=["aoi"])
              .withColumn("pred", F.expr("a0 + a1 * c + b1 * s"))
              .withColumn("resid", F.expr("v - pred")))
    rmse = (scored.groupBy("aoi")
            .agg(F.expr("SQRT(AVG(resid * resid))").alias("rmse")))
    out = scored.join(F.broadcast(rmse), on=["aoi"])
    return out.select(
        "aoi", F.col("t_str").alias("date_str"),
        F.expr("ROUND(v, 6)").alias("v"),
        F.expr("ROUND(pred, 6)").alias("pred"),
        F.expr("ROUND(resid, 6)").alias("resid"),
        F.expr("ROUND(rmse, 6)").alias("rmse"),
        F.expr("CASE WHEN ABS(resid) > 2.0 * rmse"
               " THEN 1 ELSE 0 END").cast("int").alias("is_anomaly"))


def harmonic_anomaly_sql(series_sql: str,
                         key_cols: Sequence[str] = ("aoi",),
                         time_col: str = "date_str",
                         value_col: str = "mean_v",
                         period_days: float = 365.25,
                         threshold: float = 2.0) -> str:
    """DuckDB oracle: the same expression strings, identical fit-join,
    RMSE, and flag."""
    w, feats, sums, det, a0, a1, b1, _, _ = _harmonic_exprs(period_days)
    keys = ", ".join(key_cols)
    hkeys = ", ".join(f"h.{k}" for k in key_cols)
    sum_sql = ", ".join(f"{e} AS {n}" for n, e in sums.items())
    return f"""
WITH has_ AS ({series_sql}),
hab AS (
  SELECT {keys}, {time_col} AS t_str,
         CAST(dayofyear(CAST({time_col} AS DATE)) AS DOUBLE) AS doy,
         CAST({value_col} AS DOUBLE) AS v
  FROM has_
),
haf AS (SELECT *, {feats['c']} AS c, {feats['s']} AS s FROM hab),
haa AS (SELECT {keys}, {sum_sql} FROM haf GROUP BY {keys}),
had AS (SELECT *, {det} AS det FROM haa),
hacoef AS (SELECT {keys}, {a0} AS a0, {a1} AS a1, {b1} AS b1 FROM had),
hasc AS (
  SELECT f.*, q.a0 + q.a1 * f.c + q.b1 * f.s AS pred,
         f.v - (q.a0 + q.a1 * f.c + q.b1 * f.s) AS resid
  FROM haf f JOIN hacoef q USING ({keys})
),
harm AS (SELECT {keys}, SQRT(AVG(resid * resid)) AS rmse
         FROM hasc GROUP BY {keys})
SELECT {hkeys}, h.t_str AS {time_col},
       ROUND(h.v, 6) AS v,
       ROUND(h.pred, 6) AS pred,
       ROUND(h.resid, 6) AS resid,
       ROUND(m.rmse, 6) AS rmse,
       CAST(CASE WHEN ABS(h.resid) > {threshold!r} * m.rmse
            THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM hasc h JOIN harm m USING ({keys})
"""


def acf(df: DataFrame, key_cols: Sequence[str] = ("user_id",),
        time_col: str = "ts", value_col: str = "value",
        max_lag: int = 3) -> DataFrame:
    """Sample autocorrelation function per key at lags 1..``max_lag`` —
    the periodicity/persistence detector for per-entity series (is the
    signal mean-reverting, trending, seasonal?): the standard estimator
    ``r_k = Σₜ(vₜ−v̄)(vₜ₋ₖ−v̄) / Σₜ(vₜ−v̄)²`` with the key's own mean.

    Shape: one mean agg broadcast back, ALL lags from a single key
    window (one exchange + sort shared by every lag column), ONE final
    hash agg at key cardinality. NULL lags at the series head drop out
    of the numerator sums by NULL propagation — no explicit filters.
    """
    base = df.select(*key_cols, F.col(time_col).alias("t"),
                     F.col(value_col).cast("double").alias("v"))
    mu = base.groupBy(*key_cols).agg(F.avg("v").alias("mu"))
    j = base.join(F.broadcast(mu), on=list(key_cols))
    w = Window.partitionBy(*key_cols).orderBy("t")
    for k in range(1, max_lag + 1):
        j = j.withColumn(f"_l{k}", F.lag("v", k).over(w))
    z = F.col("v") - F.col("mu")
    aggs = [F.count("v").cast("long").alias("n_obs")]
    den = F.sum(z * z)
    for k in range(1, max_lag + 1):
        num = F.sum(z * (F.col(f"_l{k}") - F.col("mu")))
        aggs.append(F.round(num / F.when(den != 0, den), 6)
                    .alias(f"acf_{k}"))
    return j.groupBy(*key_cols).agg(*aggs)


def acf_sql(table: str, key_cols: Sequence[str] = ("user_id",),
            time_col: str = "ts", value_col: str = "value",
            max_lag: int = 3) -> str:
    """DuckDB oracle: identical mean join, shared window lags, and
    per-lag reduction with NULLIF-guarded denominator."""
    keys = ", ".join(key_cols)
    lags = ",\n         ".join(
        f"LAG(v, {k}) OVER (PARTITION BY {keys} ORDER BY t) AS l{k}"
        for k in range(1, max_lag + 1))
    outs = ",\n       ".join(
        f"ROUND(SUM((v - mu) * (l{k} - mu))"
        f" / NULLIF(SUM((v - mu) * (v - mu)), 0), 6) AS acf_{k}"
        for k in range(1, max_lag + 1))
    return f"""
WITH acb AS (
  SELECT {keys}, {time_col} AS t, CAST({value_col} AS DOUBLE) AS v
  FROM {table}
),
acm AS (SELECT {keys}, AVG(v) AS mu FROM acb GROUP BY {keys}),
acl AS (
  SELECT b.*, m.mu,
         {lags}
  FROM acb b JOIN acm m USING ({keys})
)
SELECT {keys}, CAST(COUNT(v) AS BIGINT) AS n_obs,
       {outs}
FROM acl GROUP BY {keys}
"""


def interarrival_stats(df: DataFrame) -> DataFrame:
    """Inter-arrival timing statistics per key — the behavioral
    burstiness profile (bot vs human cadence, sensor regularity,
    retry storms): per-key gaps between consecutive events, their
    mean / std (moment form for engine parity) / coefficient of
    variation, and the Goh-Barabási burstiness
    ``B = (σ−μ)/(σ+μ)`` ∈ [−1, 1] (−1 periodic, 0 Poisson, →1 bursty).

    Shape: ONE key window (single exchange + sort) for the lag, one
    hash agg at key cardinality. Keys with <2 events drop (no gaps);
    zero-mean guards yield NULL, never a divide error.
    """
    base = df.select("user_id", _epoch(F.col("ts")).alias("t"))
    w = Window.partitionBy("user_id").orderBy("t")
    g = (base.withColumn("gap", F.col("t") - F.lag("t", 1).over(w))
         .filter(F.col("gap").isNotNull()))
    agg = g.groupBy("user_id").agg(
        F.count("gap").cast("long").alias("n_gaps"),
        F.avg("gap").alias("_m"),
        F.avg(F.col("gap") * F.col("gap")).alias("_m2"))
    std = F.sqrt(F.col("_m2") - F.col("_m") * F.col("_m"))
    mean = F.col("_m")
    return agg.select(
        "user_id", "n_gaps", F.round(mean, 6).alias("mean_gap_s"),
        F.round(std, 6).alias("std_gap_s"),
        F.round(std / F.when(mean != 0, mean), 6).alias("cv"),
        F.round((std - mean) / F.when((std + mean) != 0, std + mean), 6)
        .alias("burstiness"))


def interarrival_stats_sql(table: str,
                           key_cols: Sequence[str] = ("user_id",),
                           time_col: str = "ts") -> str:
    """DuckDB oracle: identical window lag, moment-form std, and
    NULLIF-guarded ratios."""
    keys = ", ".join(key_cols)
    return f"""
WITH iab AS (
  SELECT {keys}, epoch({time_col}) AS t FROM {table}
),
iag AS (
  SELECT {keys},
         t - LAG(t, 1) OVER (PARTITION BY {keys} ORDER BY t) AS gap
  FROM iab
),
iaa AS (
  SELECT {keys}, CAST(COUNT(gap) AS BIGINT) AS n_gaps,
         AVG(gap) AS m, AVG(gap * gap) AS m2
  FROM iag WHERE gap IS NOT NULL GROUP BY {keys}
)
SELECT {keys}, n_gaps,
       ROUND(m, 6) AS mean_gap_s,
       ROUND(SQRT(m2 - m * m), 6) AS std_gap_s,
       ROUND(SQRT(m2 - m * m) / NULLIF(m, 0), 6) AS cv,
       ROUND((SQRT(m2 - m * m) - m) / NULLIF(SQRT(m2 - m * m) + m, 0), 6)
         AS burstiness
FROM iaa
"""


def event_entropy(df: DataFrame) -> DataFrame:
    """Behavioral diversity per key: Shannon entropy of the event-type
    distribution (nats), the distinct-type count, and the top type's
    share — the bot/monoculture detector that pairs with
    :func:`interarrival_stats` (cadence) for an activity profile.

    Shape: one hash agg at (key × type) cardinality, one at key
    cardinality — both map-side combinable; entropy is a codegen fold
    over per-type counts. Single-type keys get H = 0 exactly (p·ln p
    with p = 1), never a guard artifact.
    """
    kt = (df.groupBy("user_id", "event_type")
          .agg(F.count("*").cast("double").alias("c")))
    tot = F.sum("c")
    p = F.col("c") / tot
    return (kt.groupBy("user_id")
            .agg(F.sum("c").cast("long").alias("n_events"),
                 F.count("*").cast("int").alias("n_types"),
                 F.round(-F.sum(F.col("c") * F.log(F.col("c")))
                         / tot + F.log(tot), 6).alias("entropy_nats"),
                 F.round(F.max("c") / tot, 6).alias("top_share")))


def event_entropy_sql(table: str, key_cols: Sequence[str] = ("user_id",),
                      type_col: str = "event_type") -> str:
    """DuckDB oracle: identical two-level agg and the same algebraic
    entropy form ``ln N − Σ c·ln c / N`` (one pass over type counts,
    no per-row p recompute — the exact expression Spark evaluates)."""
    keys = ", ".join(key_cols)
    return f"""
WITH eet AS (
  SELECT {keys}, {type_col}, CAST(COUNT(*) AS DOUBLE) AS c
  FROM {table} GROUP BY {keys}, {type_col}
)
SELECT {keys},
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS INT) AS n_types,
       ROUND(-SUM(c * LN(c)) / SUM(c) + LN(SUM(c)), 6) AS entropy_nats,
       ROUND(MAX(c) / SUM(c), 6) AS top_share
FROM eet GROUP BY {keys}
"""


# Pettitt's p-value approximation, shared verbatim by both engines:
# p ≈ 2·exp(−6K² / (n³ + n²)), capped at 1 for tiny K.
_PETTITT_P = ("LEAST(1.0, 2.0 * EXP(-6.0 * k_stat * k_stat"
              " / (n * n * n + n * n)))")


def pettitt(df: DataFrame) -> DataFrame:
    """Pettitt's nonparametric change-point test per key — the standard
    homogeneity break detector for environmental series (did this
    sensor/field/user shift regime, and when?): locates the single most
    likely break as the argmax of ``|U_t|`` where
    ``U_t = Σ_{i≤t} Σ_{j>t} sign(v_j − v_i)``, with the classic
    significance approximation ``p ≈ 2·exp(−6K²/(n³+n²))``, K = max|U|.

    Instead of materializing U_t's O(n²)-per-candidate double sum, the
    recursion ``U_t = Σ_{s≤t} W_s`` with ``W_s = Σ_{j≠s} sign(v_j − v_s)``
    (telescoping the two index windows) reduces it to ONE pair
    enumeration + a per-key running sum. Shape: the pair join is
    key-co-partitioned (quadratic per SERIES length only, map-side
    combined to one W row per observation), then one key window for the
    prefix sum and two key-cardinality aggs (K, then earliest argmax —
    |U| is an integer so the equality join is exact). Requires unique
    ``ts`` per key (true for event streams and daily composites).
    """
    base = df.select("user_id", _epoch(F.col("ts")).alias("t"),
                     F.col("value").cast("double").alias("v"))
    base = base.localCheckpoint(eager=False)
    a = base.select("user_id", F.col("t").alias("ta"), F.col("v").alias("va"))
    b = base.select("user_id", F.col("t").alias("tb"), F.col("v").alias("vb"))
    w_s = (a.join(b, on=["user_id"])
           .filter(F.col("ta") != F.col("tb"))
           .groupBy("user_id", "ta")
           .agg(F.expr("SUM(SIGN(vb - va))").alias("w")))
    win = Window.partitionBy("user_id").orderBy("ta")
    u = w_s.withColumn("u", F.sum("w").over(win)) \
           .withColumn("abs_u", F.abs(F.col("u")))
    # u feeds both the K aggregation and the argmax join — fence the
    # (tiny, series-cardinality) prefix-sum table so the pair join and
    # window execute once, not once per consumer
    u = u.localCheckpoint(eager=False)
    # W_s exists for every observation (any key with >=2 rows), so the
    # W row count IS n; the prefix sum U_n over the full key is 0 by
    # antisymmetry, so the argmax always lands strictly before the end.
    kagg = u.groupBy("user_id").agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("n"),
        F.max("abs_u").alias("k_stat"))
    out = (u.join(kagg, on=["user_id"])
           .filter(F.col("abs_u") == F.col("k_stat"))
           .groupBy("user_id")
           .agg(F.first("n").alias("n"),
                F.first("k_stat").alias("k_stat"),
                F.min("ta").alias("t_break")))
    return out.select(
        "user_id", F.expr("CAST(n AS BIGINT)").alias("n_obs"),
        F.expr("CAST(k_stat AS BIGINT)").alias("k_stat"),
        F.col("t_break"),
        F.expr(f"ROUND({_PETTITT_P}, 6)").alias("p_value"))


def pettitt_sql(table: str, key_cols: Sequence[str] = ("user_id",),
                time_col: str = "ts", value_col: str = "value") -> str:
    """DuckDB oracle: identical pair enumeration, telescoped running
    sum, and the shared p-value expression string."""
    keys = ", ".join(key_cols)
    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    akeys = ", ".join(f"a.{k} AS {k}" for k in key_cols)
    agg_keys = ", ".join(f"a.{k}" for k in key_cols)
    return f"""
WITH ptb AS (
  SELECT {keys}, epoch({time_col}) AS t,
         CAST({value_col} AS DOUBLE) AS v
  FROM {table}
),
ptw AS (
  SELECT {akeys}, a.t AS ta, SUM(SIGN(b.v - a.v)) AS w
  FROM ptb a JOIN ptb b ON {on} AND a.t <> b.t
  GROUP BY {agg_keys}, a.t
),
ptu AS (
  SELECT {keys}, ta,
         ABS(SUM(w) OVER (PARTITION BY {keys} ORDER BY ta)) AS abs_u
  FROM ptw
),
ptk AS (
  SELECT {keys}, CAST(COUNT(*) AS DOUBLE) AS n,
         MAX(abs_u) AS k_stat
  FROM ptu GROUP BY {keys}
)
SELECT {keys},
       CAST(n AS BIGINT) AS n_obs,
       CAST(k_stat AS BIGINT) AS k_stat,
       MIN(ta) AS t_break,
       ROUND({_PETTITT_P}, 6) AS p_value
FROM ptu JOIN ptk USING ({keys})
WHERE abs_u = k_stat
GROUP BY {keys}, n, k_stat
"""


def seasonal_decompose(df: DataFrame,
                       period: int = 7) -> DataFrame:
    """Classical additive seasonal decomposition per key
    (``v = trend + seasonal + resid``) — the moving-average STL
    precursor that splits a regular daily series into a centered-MA
    trend, a phase-mean seasonal profile, and the residual that anomaly
    detectors should score instead of the raw value.

    ``period`` must be odd (the centered MA is symmetric); the phase is
    the calendar position ``datediff(day, epoch) mod period`` — a pure
    function of the date, not of row order, so both engines and any
    partitioning agree. Trend is NULL at the series edges (incomplete
    window), seasonal means average the detrended rows per (key, phase)
    and are re-centered to sum to zero per key.

    Shape: ONE key window (count + avg share the frame/exchange), one
    hash agg at key × period cardinality, one window over that tiny
    table for the centering mean, one broadcastable join back. No
    row-cardinality shuffle beyond the single window sort.
    """
    if period % 2 != 1:
        raise ValueError("period must be odd for a centered MA")
    h = (period - 1) // 2
    base = df.select(
        "event_type", F.col("day").cast("date").alias("t"),
        F.col("v").cast("double").alias("v"),
        F.expr(f"pmod(datediff(CAST(day AS DATE),"
               f" DATE '1970-01-01'), {period})").alias("phase"))
    w = (Window.partitionBy("event_type").orderBy("t")
         .rowsBetween(-h, h))
    trended = base.withColumn(
        "trend",
        F.when(F.count("v").over(w) == period, F.avg("v").over(w)))
    trended = trended.localCheckpoint(eager=False)
    ph = (trended.groupBy("event_type", "phase")
          .agg(F.avg(F.col("v") - F.col("trend")).alias("sbar")))
    ph = ph.withColumn(
        "seasonal",
        F.col("sbar") - F.avg("sbar").over(Window.partitionBy("event_type")))
    out = trended.join(F.broadcast(ph.select("event_type", "phase",
                                             "seasonal")),
                       on=["event_type", "phase"], how="left")
    # the date goes out as an ISO string: pandas/Arrow render Spark DATE
    # as `date` objects but DuckDB DATE as datetime64, so a raw date
    # column would string-hash differently in the driver's canonicalizer
    return out.select(
        "event_type", F.date_format("t", "yyyy-MM-dd").alias("day"),
        F.round("v", 6).alias("v"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("v") - F.col("trend") - F.col("seasonal"), 6)
        .alias("resid"))


def seasonal_decompose_sql(series_sql: str,
                           key_cols: Sequence[str] = ("event_type",),
                           time_col: str = "day", value_col: str = "v",
                           period: int = 7) -> str:
    """DuckDB oracle: identical centered-MA frame, phase means, zero-sum
    centering, and join-back."""
    h = (period - 1) // 2
    keys = ", ".join(key_cols)
    return f"""
WITH sdsrc AS ({series_sql}),
sdb AS (
  SELECT {keys}, CAST({time_col} AS DATE) AS t,
         CAST({value_col} AS DOUBLE) AS v,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST({time_col} AS DATE)) % {period} AS BIGINT)
           AS phase
  FROM sdsrc
),
sdt AS (
  SELECT *,
         CASE WHEN COUNT(v) OVER frm = {period}
              THEN AVG(v) OVER frm END AS trend
  FROM sdb
  WINDOW frm AS (PARTITION BY {keys} ORDER BY t
                 ROWS BETWEEN {h} PRECEDING AND {h} FOLLOWING)
),
sdp AS (
  SELECT {keys}, phase, AVG(v - trend) AS sbar
  FROM sdt GROUP BY {keys}, phase
),
sdc AS (
  SELECT {keys}, phase,
         sbar - AVG(sbar) OVER (PARTITION BY {keys}) AS seasonal
  FROM sdp
)
SELECT {keys}, strftime(t, '%Y-%m-%d') AS day,
       ROUND(v, 6) AS v,
       ROUND(trend, 6) AS trend,
       ROUND(seasonal, 6) AS seasonal,
       ROUND(v - trend - seasonal, 6) AS resid
FROM sdt LEFT JOIN sdc USING ({keys}, phase)
"""


def ccf(df: DataFrame, key_cols: Sequence[str] = ("k",),
        max_lag: int = 3) -> DataFrame:
    """Sample cross-correlation function between two aligned series per
    key at lags −L..L — the lead/lag detector (do purchases follow
    clicks, does soil moisture lag rainfall, and by how much?):
    ``r_k = Σₜ(aₜ−ā)(bₜ₋ₖ−b̄) / √(Σ(a−ā)²·Σ(b−b̄)²)`` — positive k
    means *b leads a* by k steps.

    Shape: one mean/variance agg broadcast back, every lag AND lead
    column from a single key window (one exchange + sort), one final
    hash agg at key cardinality. Edge rows where the shifted b does not
    exist drop out of each numerator by NULL propagation.
    """
    base = df.select(*key_cols, F.col("t").alias("t"),
                     F.col("va").cast("double").alias("a"),
                     F.col("vb").cast("double").alias("b"))
    mu = base.groupBy(*key_cols).agg(F.avg("a").alias("ma"),
                                     F.avg("b").alias("mb"))
    j = base.join(F.broadcast(mu), on=list(key_cols))
    w = Window.partitionBy(*key_cols).orderBy("t")
    cols = {}
    for k in range(1, max_lag + 1):
        j = j.withColumn(f"_bl{k}", F.lag("b", k).over(w))
        j = j.withColumn(f"_bf{k}", F.lead("b", k).over(w))
        cols[k] = f"_bl{k}"
        cols[-k] = f"_bf{k}"
    za = F.col("a") - F.col("ma")
    den = F.sqrt(F.sum(za * za)
                 * F.sum((F.col("b") - F.col("mb")) ** 2))
    aggs = [F.count("a").cast("long").alias("n_obs")]
    for k in range(-max_lag, max_lag + 1):
        shifted = F.col("b") if k == 0 else F.col(cols[k])
        num = F.sum(za * (shifted - F.col("mb")))
        name = f"ccf_{k}" if k >= 0 else f"ccf_m{-k}"
        aggs.append(F.round(num / F.when(den != 0, den), 6).alias(name))
    return j.groupBy(*key_cols).agg(*aggs)


def ccf_sql(series_sql: str, key_cols: Sequence[str] = ("k",),
            time_col: str = "t", a_col: str = "va", b_col: str = "vb",
            max_lag: int = 3) -> str:
    """DuckDB oracle: identical mean join, shared window shifts, and
    per-lag reductions over the same denominator."""
    keys = ", ".join(key_cols)
    shifts = []
    outs = []
    den = ("SQRT(SUM((a - ma) * (a - ma))"
           " * SUM((b - mb) * (b - mb)))")
    for k in range(-max_lag, max_lag + 1):
        if k == 0:
            expr = "b"
        elif k > 0:
            expr = f"bl{k}"
            shifts.append(f"LAG(b, {k}) OVER win AS bl{k}")
        else:
            expr = f"bf{-k}"
            shifts.append(f"LEAD(b, {-k}) OVER win AS bf{-k}")
        name = f"ccf_{k}" if k >= 0 else f"ccf_m{-k}"
        outs.append(f"ROUND(SUM((a - ma) * ({expr} - mb))"
                    f" / NULLIF({den}, 0), 6) AS {name}")
    shifts_sql = ",\n         ".join(shifts)
    outs_sql = ",\n       ".join(outs)
    return f"""
WITH ccsrc AS ({series_sql}),
ccb AS (
  SELECT {keys}, {time_col} AS t, CAST({a_col} AS DOUBLE) AS a,
         CAST({b_col} AS DOUBLE) AS b
  FROM ccsrc
),
ccm AS (SELECT {keys}, AVG(a) AS ma, AVG(b) AS mb
        FROM ccb GROUP BY {keys}),
ccl AS (
  SELECT b0.*, m.ma, m.mb,
         {shifts_sql}
  FROM ccb b0 JOIN ccm m USING ({keys})
  WINDOW win AS (PARTITION BY {keys} ORDER BY t)
)
SELECT {keys}, CAST(COUNT(a) AS BIGINT) AS n_obs,
       {outs_sql}
FROM ccl GROUP BY {keys}
"""


def event_trigrams(events: DataFrame) -> DataFrame:
    """Top-10 event-type trigrams across all journeys — third-order path
    mining (which 3-step behavior sequences dominate: view>click>buy vs
    error>error>error retry storms). Complements
    :func:`transition_counts` (first-order) with enough context to see
    funnels and loops.

    Shape: ONE key window (two lag columns share the exchange + sort),
    a hash agg at distinct-trigram cardinality (≤ |types|³ — tiny),
    and a top-k rank over that aggregated table only. Deterministic
    tie-break: count DESC then trigram ASC.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    tri = (events
           .withColumn("_t1", F.lag("event_type", 2).over(w))
           .withColumn("_t2", F.lag("event_type", 1).over(w))
           .filter(F.col("_t1").isNotNull())
           .select(F.concat_ws(">", "_t1", "_t2", "event_type")
                   .alias("trigram")))
    agg = tri.groupBy("trigram").agg(F.count("*").cast("long").alias("n"))
    # cut FIRST (TakeOrderedAndProject heap top-k — the trigram
    # alphabet is |types|³ and must not feed a global-sort window),
    # then number the k survivors
    top = agg.orderBy(F.col("n").desc(), F.col("trigram")).limit(10)
    rw = Window.orderBy(F.col("n").desc(), F.col("trigram"))
    return (top.withColumn("rank", F.row_number().over(rw))
            .select("trigram", "n", F.col("rank").cast("int").alias("rank")))


def event_trigrams_sql(table: str, key: str = "user_id",
                       type_col: str = "event_type", ts_col: str = "ts",
                       top_k: int = 10) -> str:
    """DuckDB oracle: identical lags, concat, count, and tie order."""
    return f"""
WITH trw AS (
  SELECT LAG({type_col}, 2) OVER w AS t1,
         LAG({type_col}, 1) OVER w AS t2,
         {type_col} AS t3
  FROM {table}
  WINDOW w AS (PARTITION BY {key} ORDER BY {ts_col})
),
trg AS (
  SELECT t1 || '>' || t2 || '>' || t3 AS trigram,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM trw WHERE t1 IS NOT NULL
  GROUP BY 1
)
SELECT trigram, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, trigram) AS INT) AS rank
FROM trg
QUALIFY rank <= {top_k}
ORDER BY rank
"""


def seasonal_mann_kendall(df: DataFrame,
                          season_expr: str = "dayofweek(CAST(ts AS DATE))"
                          ) -> DataFrame:
    """Hirsch-Slack seasonal Mann-Kendall trend test per key — the
    trend detector that ignores seasonality instead of mistaking it for
    trend (is the de-seasonalized signal rising?): MK's S and
    tie-corrected Var(S) computed WITHIN each season and summed,
    ``Z = (S∓1)/√ΣVar_g``, plus the seasonal Sen slope = exact median
    of within-season pairwise slopes only (units/day). ``season_expr`` is any SQL expression over the input
    columns (default: day-of-week).

    Shape: identical machinery to :func:`mann_kendall` with the season
    folded into the pair-join key — the quadratic blowup shrinks from
    series-length² to Σ season-length², and every reduction stays a
    key(+season)-cardinality hash agg. One lazy checkpoint fences the
    tiny series so the three branches read one materialization.
    """
    base = df.select("user_id",
                     F.expr(season_expr).cast("int").alias("season"),
                     _epoch(F.col("ts")).alias("t"),
                     F.col("value").cast("double").alias("v"))
    base = base.localCheckpoint(eager=False)
    keys_s = ["user_id", "season"]
    a = base.select(*keys_s, F.col("t").alias("ta"),
                    F.col("v").alias("va"))
    b = base.select(*keys_s, F.col("t").alias("tb"),
                    F.col("v").alias("vb"))
    pairs = a.join(b, on=keys_s).filter(F.col("ta") < F.col("tb"))
    # per-key: total S over all within-season pairs + the seasonal Sen
    # (slope in units/DAY — per-second slopes round to zero at the
    # 1e-6 output quantization)
    pagg = pairs.groupBy("user_id").agg(
        F.expr("SUM(SIGN(vb - va))").alias("s_raw"),
        F.expr("percentile((vb - va) / ((tb - ta) / 86400.0), 0.5)")
        .alias("sen"))
    # per-(key, season): n_g and tie correction -> Var_g, summed per key
    ng = base.groupBy(*keys_s).agg(
        F.expr("CAST(COUNT(v) AS DOUBLE)").alias("n"))
    ties = (base.groupBy(*keys_s, "v")
            .agg(F.expr("CAST(COUNT(*) AS DOUBLE)").alias("c"))
            .groupBy(*keys_s)
            .agg(F.expr("SUM(c * (c - 1.0) * (2.0 * c + 5.0))")
                 .alias("tie_sum")))
    vg = (ng.join(ties, on=keys_s)
          .withColumn("var_g", F.expr(_MK_VAR))
          .groupBy("user_id")
          .agg(F.expr("SUM(var_g)").alias("var_s"),
               F.expr("CAST(SUM(n) AS BIGINT)").alias("n_obs"),
               F.expr("CAST(COUNT(*) AS INT)").alias("n_seasons")))
    j = vg.join(pagg, on=["user_id"])
    return j.select(
        "user_id", "n_obs", "n_seasons",
        F.expr("CAST(s_raw AS BIGINT)").alias("s_stat"),
        F.expr("ROUND(var_s, 6)").alias("var_s"),
        F.expr(f"ROUND({_MK_Z}, 6) + 0.0").alias("smk_z"),
        F.expr("ROUND(sen, 6) + 0.0").alias("sen_slope"))


def seasonal_mann_kendall_sql(table: str,
                              key_cols: Sequence[str] = ("user_id",),
                              time_col: str = "ts",
                              value_col: str = "value",
                              season_expr: str =
                              "dayofweek(CAST(ts AS DATE))") -> str:
    """DuckDB oracle: identical season-keyed pair join, per-season
    variance fold, shared variance/z formula strings, and quantile_cont
    median. NOTE: pass a ``season_expr`` valid in BOTH dialects (the
    default dayofweek differs — Spark is 1-7 Sun-first, DuckDB 0-6
    Sun-first; only season IDENTITY matters, not its label, so any
    consistent per-engine mapping with equal partitioning works —
    but for gate parity prefer engine-agnostic expressions like
    ``month(...)`` or ``CAST(strftime/date_part...)``)."""
    keys = ", ".join(key_cols)
    keys_s = f"{keys}, season"
    on = " AND ".join(f"a.{k} = b.{k}"
                      for k in [*key_cols, "season"])
    akeys = ", ".join(f"a.{k} AS {k}" for k in key_cols)
    agg_keys = ", ".join(f"a.{k}" for k in key_cols)
    return f"""
WITH smb AS (
  SELECT {keys}, CAST({season_expr} AS INT) AS season,
         epoch({time_col}) AS t, CAST({value_col} AS DOUBLE) AS v
  FROM {table}
),
smp AS (
  SELECT {akeys}, SUM(SIGN(b.v - a.v)) AS s_raw,
         quantile_cont((b.v - a.v) / ((b.t - a.t) / 86400.0), 0.5) AS sen
  FROM smb a JOIN smb b ON {on} AND a.t < b.t
  GROUP BY {agg_keys}
),
smn AS (SELECT {keys_s}, CAST(COUNT(v) AS DOUBLE) AS n
        FROM smb GROUP BY {keys_s}),
smt AS (
  SELECT {keys_s}, SUM(c * (c - 1.0) * (2.0 * c + 5.0)) AS tie_sum
  FROM (SELECT {keys_s}, v, CAST(COUNT(*) AS DOUBLE) AS c
        FROM smb GROUP BY {keys_s}, v) tg
  GROUP BY {keys_s}
),
smv AS (
  SELECT {keys},
         SUM({_MK_VAR}) AS var_s,
         CAST(SUM(n) AS BIGINT) AS n_obs,
         CAST(COUNT(*) AS INT) AS n_seasons
  FROM smn JOIN smt USING ({keys_s})
  GROUP BY {keys}
)
SELECT {keys}, n_obs, n_seasons,
       CAST(s_raw AS BIGINT) AS s_stat,
       ROUND(var_s, 6) AS var_s,
       ROUND({_MK_Z}, 6) + 0.0 AS smk_z,
       ROUND(sen, 6) + 0.0 AS sen_slope
FROM smv JOIN smp USING ({keys})
"""


def holt_smooth(df: DataFrame,
                alpha: float = 0.3, beta: float = 0.1,
                horizon: int = 7) -> DataFrame:
    """Holt double exponential smoothing per key — level + trend state
    for trended series where a plain EWMA lags: ``l₁ = v₁, b₁ = 0``,
    then ``lₜ = α·vₜ + (1−α)(l+b)``, ``bₜ = β(lₜ−l) + (1−β)b``; emits
    the final state, the in-sample one-step-ahead SSE (model fit), and
    the h-step linear forecast ``l + h·b``. Initialization is stated
    (b₁ = 0), not library-dependent.

    Shape: one hash agg collects each key's time-ordered value array
    (per-entity series regime, state bounded by series length — same as
    :func:`cusum_alarms`), then the inherently sequential recurrence is
    a pure ``aggregate`` fold expression. No window, no Python, no
    driver state; at 10⁹ keys this is one shuffle and a codegen fold.
    """
    keys = ["user_id"]
    a, bfac = float(alpha), float(beta)
    base = df.select(*keys,
                     F.unix_micros(F.col("ts").cast("timestamp"))
                     .alias("_us"),
                     F.col("value").cast("double").alias("_v"))
    arr = (base.select(*keys, F.struct(F.col("_us").alias("us"),
                                       F.col("_v").alias("v")).alias("_e"))
           .groupBy(*keys)
           .agg(F.sort_array(F.collect_list("_e")).alias("_es")))
    vs = F.transform(F.col("_es"), lambda e: e["v"])
    zero = F.struct(F.lit(0.0).alias("l"), F.lit(0.0).alias("b"),
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("sse"))

    def step(acc, x):
        pred = acc["l"] + acc["b"]
        err = x - pred
        l1 = F.lit(a) * x + F.lit(1.0 - a) * pred
        b1 = F.lit(bfac) * (l1 - acc["l"]) + F.lit(1.0 - bfac) * acc["b"]
        first = acc["n"] == 0
        return F.struct(
            F.when(first, x).otherwise(l1).alias("l"),
            F.when(first, F.lit(0.0)).otherwise(b1).alias("b"),
            (acc["n"] + 1).alias("n"),
            F.when(first, F.lit(0.0))
            .otherwise(acc["sse"] + err * err).alias("sse"))

    fold = F.aggregate(vs, zero, step)
    return arr.select(
        *keys, F.size("_es").cast("long").alias("n_obs"),
        (F.round(fold["l"], 6) + 0.0).alias("level"),
        (F.round(fold["b"], 6) + 0.0).alias("trend"),
        (F.round(fold["sse"], 6) + 0.0).alias("sse"),
        (F.round(fold["l"] + F.lit(float(horizon)) * fold["b"], 6) + 0.0)
        .alias(f"forecast_{int(horizon)}"))


def holt_smooth_sql(table: str, key_cols: Sequence[str] = ("user_id",),
                    ts_col: str = "ts", value_col: str = "value",
                    alpha: float = 0.3, beta: float = 0.1,
                    horizon: int = 7) -> str:
    """DuckDB oracle: identical recurrence as a RECURSIVE CTE stepping
    each key's row_number chain (not ``list_reduce`` — see
    :func:`cusum_alarms_sql` for the struct-lambda corruption note).
    Literals ``1−α`` / ``1−β`` are precomputed once in Python and
    embedded in BOTH engines so every step multiplies the identical
    double."""
    keys = list(key_cols)
    ks = ", ".join(keys)
    ko = ", ".join(f"o.{c}" for c in keys)
    jn = " AND ".join(f"r.{c} = o.{c}" for c in keys)
    jn2 = " AND ".join(f"r.{c} = n.{c}" for c in keys)
    a, bfac = float(alpha), float(beta)
    l1 = f"({a!r} * o.v + {1.0 - a!r} * (r.l + r.b))"
    return f"""
WITH RECURSIVE hb AS (
  SELECT {ks}, epoch_us(CAST({ts_col} AS TIMESTAMP)) AS us,
         CAST({value_col} AS DOUBLE) AS v
  FROM {table}
),
ho AS (
  SELECT {ks}, v,
         ROW_NUMBER() OVER (PARTITION BY {ks} ORDER BY us, v) AS i
  FROM hb
),
hn AS (SELECT {ks}, MAX(i) AS n_obs FROM ho GROUP BY {ks}),
hrec AS (
  SELECT {ks}, i, v AS l, CAST(0.0 AS DOUBLE) AS b,
         CAST(0.0 AS DOUBLE) AS sse
  FROM ho WHERE i = 1
  UNION ALL
  SELECT {ko}, o.i,
         {l1},
         {bfac!r} * ({l1} - r.l) + {1.0 - bfac!r} * r.b,
         r.sse + (o.v - (r.l + r.b)) * (o.v - (r.l + r.b))
  FROM hrec r JOIN ho o ON {jn} AND o.i = r.i + 1
)
SELECT {', '.join('r.' + c for c in keys)},
       CAST(n.n_obs AS BIGINT) AS n_obs,
       ROUND(r.l, 6) + 0.0 AS level,
       ROUND(r.b, 6) + 0.0 AS trend,
       ROUND(r.sse, 6) + 0.0 AS sse,
       ROUND(r.l + {float(horizon)!r} * r.b, 6) + 0.0
         AS forecast_{int(horizon)}
FROM hrec r JOIN hn n ON {jn2} AND r.i = n.n_obs
"""


def kaplan_meier(events: DataFrame) -> DataFrame:
    """Kaplan–Meier survival estimate over per-entity lifetimes
    (first event → last event, in whole days). Entities whose last
    event falls within 7 days of the global max
    timestamp are right-CENSORED (they may still be alive) — the
    distinction that makes KM different from a plain ECDF.

    Per duration t: d (deaths), c (censored), at-risk n = Σ of
    (d+c) at durations ≥ t (a suffix window), and
    S(t) = Π_{t'≤t} (1 − d/n) computed as exp(Σ ln(1 − d/n)) with an
    explicit zero-factor ledger (ln(0) is never evaluated; once a
    factor hits zero every later S is exactly 0.0).

    Shape at scale: one hash agg at entity cardinality, one at
    duration cardinality (≤ the day span — hundreds), then
    unpartitioned windows over that tiny table only. The global max
    timestamp is a broadcast scalar, not a collect.
    """
    gmax = events.agg(F.max(F.to_date("ts")).alias("_gmax"))
    per = (events.groupBy("user_id")
           .agg(F.min(F.to_date("ts")).alias("_first"),
                F.max(F.to_date("ts")).alias("_last"))
           .crossJoin(F.broadcast(gmax))
           .select(F.datediff("_last", "_first").cast("long")
                   .alias("dur_days"),
                   F.when(F.col("_last")
                          < F.date_sub(F.col("_gmax"), 7),
                          F.lit(1)).otherwise(F.lit(0))
                   .alias("_event")))
    byd = (per.groupBy("dur_days")
           .agg(F.sum("_event").cast("long").alias("d_events"),
                F.sum(1 - F.col("_event")).cast("long")
                .alias("c_censored")))
    w_sfx = (Window.orderBy(F.col("dur_days").asc())
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    w_pfx = (Window.orderBy(F.col("dur_days").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = byd.withColumn(
        "n_risk",
        F.sum(F.col("d_events") + F.col("c_censored")).over(w_sfx)
        .cast("long"))
    frac = F.col("d_events") / F.col("n_risk")
    zf = F.when(F.col("d_events") >= F.col("n_risk"), 1).otherwise(0)
    lnterm = F.when(F.col("d_events") == 0, F.lit(0.0)) \
              .when(F.col("d_events") >= F.col("n_risk"), F.lit(0.0)) \
              .otherwise(F.log(1.0 - frac))
    r = (r.withColumn("_cz", F.sum(zf).over(w_pfx))
         .withColumn("_ls", F.sum(lnterm).over(w_pfx)))
    return r.select(
        "dur_days", "n_risk", "d_events", "c_censored",
        (F.when(F.col("_cz") > 0, F.lit(0.0))
         .otherwise(F.round(F.exp("_ls"), 6)) + 0.0).alias("survival"))


def kaplan_meier_sql(table: str, key: str = "user_id",
                     time_col: str = "ts",
                     censor_horizon_days: int = 7) -> str:
    """DuckDB oracle: identical duration table, suffix at-risk window,
    and exp-of-sum-of-logs product with the same zero ledger."""
    h = int(censor_horizon_days)
    return f"""
WITH kmp AS (
  SELECT {key},
         date_diff('day', MIN(CAST({time_col} AS DATE)),
                   MAX(CAST({time_col} AS DATE))) AS dur_days,
         CASE WHEN MAX(CAST({time_col} AS DATE))
                   < (SELECT MAX(CAST({time_col} AS DATE)) FROM {table})
                     - INTERVAL {h} DAY
              THEN 1 ELSE 0 END AS ev
  FROM {table} GROUP BY {key}
),
kmd AS (
  SELECT CAST(dur_days AS BIGINT) AS dur_days,
         CAST(SUM(ev) AS BIGINT) AS d_events,
         CAST(SUM(1 - ev) AS BIGINT) AS c_censored
  FROM kmp GROUP BY dur_days
),
kmr AS (
  SELECT *,
         CAST(SUM(d_events + c_censored) OVER
              (ORDER BY dur_days ASC ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
  FROM kmd
),
kms AS (
  SELECT *,
         SUM(CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END) OVER
           (ORDER BY dur_days ASC ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS cz,
         SUM(CASE WHEN d_events = 0 THEN 0.0
                  WHEN d_events >= n_risk THEN 0.0
                  ELSE LN(1.0 - CAST(d_events AS DOUBLE) / n_risk)
             END) OVER
           (ORDER BY dur_days ASC ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS ls
  FROM kmr
)
SELECT dur_days, n_risk, d_events, c_censored,
       (CASE WHEN cz > 0 THEN 0.0 ELSE ROUND(EXP(ls), 6) END) + 0.0
         AS survival
FROM kms
"""


def runs_test(df: DataFrame,
              key_cols: Sequence[str] = ("event_type",)) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness per key: the
    time-ordered sequence of above/below-median signs (values EQUAL to
    the median drop, the standard convention), the observed run count,
    and the normal-approximation z-score against
    μ = 2n₁n₂/n + 1, σ² = 2n₁n₂(2n₁n₂ − n) / (n²(n − 1)).
    |z| ≫ 0 ⟹ clustering (z < 0) or oscillation (z > 0).

    Shape: one exact-median agg, broadcast back, ONE key window for
    the lag comparison, one final agg at key cardinality. Run
    boundaries are counted as sign-change indicators — no iterative
    pass.
    """
    keys = list(key_cols)
    base = df.select(*keys, "ts", "event_id",
                     F.col("value").cast("double").alias("_v"))
    med = base.groupBy(*keys).agg(F.median("_v").alias("_med"))
    s = (base.join(F.broadcast(med), on=keys)
         .withColumn("_s", F.when(F.col("_v") > F.col("_med"), 1)
                     .when(F.col("_v") < F.col("_med"), -1))
         .filter(F.col("_s").isNotNull()))
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in ("ts", "event_id")])
    s = s.withColumn(
        "_chg", F.when(F.lag("_s").over(w).isNull(), 1)
                 .when(F.col("_s") != F.lag("_s").over(w), 1)
                 .otherwise(0))
    agg = s.groupBy(*keys).agg(
        F.sum(F.when(F.col("_s") == 1, 1).otherwise(0)).cast("long")
        .alias("n_above"),
        F.sum(F.when(F.col("_s") == -1, 1).otherwise(0)).cast("long")
        .alias("n_below"),
        F.sum("_chg").cast("long").alias("n_runs"))
    n = (F.col("n_above") + F.col("n_below")).cast("double")
    p2 = 2.0 * F.col("n_above") * F.col("n_below")
    mu = p2 / n + 1.0
    var = p2 * (p2 - n) / (n * n * (n - 1.0))
    return agg.select(
        *keys, "n_above", "n_below", "n_runs",
        (F.round(mu, 6) + 0.0).alias("mu_runs"),
        (F.round((F.col("n_runs") - mu)
                 / F.sqrt(F.when(var > 0, var)), 6) + 0.0).alias("z"))


def runs_test_sql(table: str,
                  key_cols: Sequence[str] = ("event_type",),
                  order_cols: Sequence[str] = ("ts", "event_id"),
                  value_col: str = "value") -> str:
    """DuckDB oracle: identical median, sign, lag-boundary count, and
    closed-form moments (CASE-guarded variance)."""
    keys = ", ".join(key_cols)
    obc = ", ".join(f"{c} ASC" for c in order_cols)
    return f"""
WITH rtb AS (
  SELECT {keys}, {', '.join(order_cols)},
         CAST({value_col} AS DOUBLE) AS v
  FROM {table}
),
rtm AS (SELECT {keys}, MEDIAN(v) AS med FROM rtb GROUP BY {keys}),
rts AS (
  SELECT b.*, CASE WHEN v > med THEN 1 WHEN v < med THEN -1 END AS s
  FROM rtb b JOIN rtm USING ({keys})
),
rtc AS (
  SELECT *,
         CASE WHEN LAG(s) OVER (PARTITION BY {keys} ORDER BY {obc})
                   IS NULL THEN 1
              WHEN s <> LAG(s) OVER (PARTITION BY {keys}
                                     ORDER BY {obc}) THEN 1
              ELSE 0 END AS chg
  FROM rts WHERE s IS NOT NULL
),
rta AS (
  SELECT {keys},
         CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_above,
         CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_below,
         CAST(SUM(chg) AS BIGINT) AS n_runs
  FROM rtc GROUP BY {keys}
)
SELECT {keys}, n_above, n_below, n_runs,
       ROUND(2.0 * n_above * n_below / (n_above + n_below) + 1.0, 6)
         + 0.0 AS mu_runs,
       ROUND((n_runs - (2.0 * n_above * n_below
                        / (n_above + n_below) + 1.0))
             / SQRT(CASE WHEN 2.0 * n_above * n_below
                         * (2.0 * n_above * n_below
                            - (n_above + n_below))
                         / ((n_above + n_below) * (n_above + n_below)
                            * (n_above + n_below - 1.0)) > 0
                    THEN 2.0 * n_above * n_below
                         * (2.0 * n_above * n_below
                            - (n_above + n_below))
                         / ((n_above + n_below) * (n_above + n_below)
                            * (n_above + n_below - 1.0)) END), 6)
         + 0.0 AS z
FROM rta
"""


def mad_anomaly(df: DataFrame,
                key_cols: Sequence[str] = ("event_type",)) -> DataFrame:
    """Robust outlier detection via the median absolute deviation:
    rz = 0.6745·(x − median) / MAD (the modified z-score;
    0.6745 = Φ⁻¹(0.75) makes MAD consistent with σ under normality).
    Emits rows with |rz| > 3.5 — robust to the very outliers
    a mean/stddev z-score would absorb.

    Shape: two exact-median aggs at key cardinality (median, then
    MAD of residuals), each broadcast back to the fact rows — the
    fact table is scanned twice but never shuffled at row
    cardinality. MAD = 0 keys emit nothing (rz undefined).
    """
    keys = list(key_cols)
    thr = 3.5
    base = df.select(*keys, "event_id",
                     F.col("value").cast("double").alias("_v"))
    med = base.groupBy(*keys).agg(F.median("_v").alias("_med"))
    dev = (base.join(F.broadcast(med), on=keys)
           .withColumn("_ad", F.abs(F.col("_v") - F.col("_med"))))
    mad = dev.groupBy(*keys).agg(F.median("_ad").alias("_mad"))
    rz = (F.lit(0.6745) * (F.col("_v") - F.col("_med"))
          / F.when(F.col("_mad") > 0, F.col("_mad")))
    return (dev.join(F.broadcast(mad), on=keys)
            .withColumn("rz", F.round(rz, 6) + 0.0)
            .filter(F.abs("rz") > thr)
            .select(*keys, "event_id",
                    (F.round("_v", 6) + 0.0).alias("value"), "rz"))


def mad_anomaly_sql(table: str,
                    key_cols: Sequence[str] = ("event_type",),
                    id_col: str = "event_id", value_col: str = "value",
                    threshold: float = 3.5) -> str:
    """DuckDB oracle: identical two-stage median chain and threshold."""
    keys = ", ".join(key_cols)
    return f"""
WITH mab AS (
  SELECT {keys}, {id_col}, CAST({value_col} AS DOUBLE) AS v
  FROM {table}
),
mam AS (SELECT {keys}, MEDIAN(v) AS med FROM mab GROUP BY {keys}),
mad AS (
  SELECT {keys}, MEDIAN(ABS(v - med)) AS mad
  FROM mab JOIN mam USING ({keys}) GROUP BY {keys}
),
maz AS (
  SELECT {keys}, {id_col}, v,
         ROUND(0.6745 * (v - med)
               / (CASE WHEN mad > 0 THEN mad END), 6) + 0.0 AS rz
  FROM mab JOIN mam USING ({keys}) JOIN mad USING ({keys})
)
SELECT {keys}, {id_col}, ROUND(v, 6) + 0.0 AS value, rz
FROM maz WHERE ABS(rz) > {threshold!r}
"""


def markov_entropy(events: DataFrame) -> DataFrame:
    """Per-state entropy of the first-order behavior Markov chain:
    for each ``from_type``, H = −Σⱼ p·ln(p) over its outgoing
    transition distribution, plus the state's empirical weight
    (share of all transitions) — together the terms of the chain's
    entropy rate Σᵢ πᵢ·Hᵢ. Low H = deterministic next-action, high
    H = exploratory behavior.

    Shape: composes :func:`transition_counts` (one key window + one
    type² hash agg); the entropy reduction then runs at type²
    cardinality — negligible at any input scale.
    """
    tc = transition_counts(events)
    tot = Window.partitionBy("from_type")
    p = F.col("n") / F.sum("n").over(tot)
    per = (tc.select("from_type", "n", p.alias("_p"))
           .groupBy("from_type")
           .agg(F.sum("n").cast("long").alias("n_out"),
                F.sum(-F.col("_p") * F.log("_p")).alias("_h")))
    g = Window.partitionBy()
    return per.select(
        "from_type", "n_out",
        (F.round(F.col("n_out") / F.sum("n_out").over(g).cast("double"),
                 6) + 0.0).alias("weight"),
        (F.round("_h", 6) + 0.0).alias("entropy"))


def markov_entropy_sql(table: str, key: str = "user_id",
                       type_col: str = "event_type",
                       time_col: str = "ts") -> str:
    """DuckDB oracle: identical lag pairs, per-state distribution, and
    entropy sum."""
    return f"""
WITH mep AS (
  SELECT lag({type_col}) OVER (PARTITION BY {key}
                               ORDER BY epoch_us({time_col}),
                                        {type_col}) AS from_type,
         {type_col} AS to_type
  FROM {table}
),
mec AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM mep WHERE from_type IS NOT NULL GROUP BY from_type, to_type
),
mer AS (
  SELECT from_type, n,
         n * 1.0 / CAST(SUM(n) OVER (PARTITION BY from_type)
                        AS BIGINT) AS p
  FROM mec
),
meh AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_out,
         SUM(-p * LN(p)) AS h
  FROM mer GROUP BY from_type
)
SELECT from_type, n_out,
       ROUND(n_out / CAST(SUM(n_out) OVER () AS DOUBLE), 6) + 0.0
         AS weight,
       ROUND(h, 6) + 0.0 AS entropy
FROM meh
"""


def hurst_exponent(df: DataFrame,
                   levels: Sequence[int] = (1, 2, 4, 8)) -> DataFrame:
    """Hurst exponent per key by the aggregated-variance method: for a
    self-similar series, Var(k-block means) ∝ k^(2H−2), so H = 1 + s/2
    where s is the OLS slope of ln Var against ln k over the dyadic
    ``levels`` (complete blocks only). H ≈ 0.5 = memoryless,
    H → 1 = long-range persistent, H < 0.5 = anti-persistent — the
    long-memory detector for metric streams.

    Shape: one ranked key window, a CONSTANT ``len(levels)``× explode,
    one (key, level, block) hash agg, one (key, level) variance agg,
    and a key-cardinality OLS readout — cardinality shrinks at every
    stage; nothing driver-side. Degenerate keys (any level with ≤1
    block or zero variance) emit NULL hurst rather than a fabricated
    slope.
    """
    keys = ["event_type"]
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in ("ts", "event_id")])
    base = df.select(*keys, "ts", "event_id",
                     F.col("value").cast("double").alias("_v"))
    idx = base.withColumn("_i", F.row_number().over(w) - 1)
    lv = F.explode(F.array(*[F.lit(int(k)) for k in levels])).alias("_k")
    blocks = (idx.select(*keys, "_i", "_v", lv)
              .groupBy(*keys, "_k", F.floor(F.col("_i") / F.col("_k"))
                       .alias("_b"))
              .agg(F.avg("_v").alias("_bm"),
                   F.count("*").alias("_bn"))
              .filter(F.col("_bn") == F.col("_k")))
    vars = (blocks.groupBy(*keys, "_k")
            .agg(F.var_pop("_bm").alias("_var"),
                 F.count("*").cast("long").alias("_nb")))
    x = F.log(F.col("_k").cast("double"))
    y = F.when((F.col("_var") > 0) & (F.col("_nb") > 1),
               F.log("_var"))
    fit = (vars.select(*keys, x.alias("_x"), y.alias("_y"))
           .groupBy(*keys)
           .agg(F.count("_y").cast("long").alias("_n"),
                F.sum(F.when(F.col("_y").isNotNull(), F.col("_x")))
                .alias("_sx"),
                F.sum("_y").alias("_sy"),
                F.sum(F.when(F.col("_y").isNotNull(),
                             F.col("_x") * F.col("_x"))).alias("_sxx"),
                F.sum(F.col("_x") * F.col("_y")).alias("_sxy")))
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = ((F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
             / F.when((den > 0) & (F.col("_n") == len(levels)), den))
    return fit.select(
        *keys, F.col("_n").alias("n_levels"),
        (F.round(F.lit(1.0) + slope / 2.0, 6) + 0.0).alias("hurst"))


def hurst_exponent_sql(table: str,
                       key_cols: Sequence[str] = ("event_type",),
                       order_cols: Sequence[str] = ("ts", "event_id"),
                       value_col: str = "value",
                       levels: Sequence[int] = (1, 2, 4, 8)) -> str:
    """DuckDB oracle: identical ranked index, block means, variance
    ladder, and closed-form OLS."""
    keys = ", ".join(key_cols)
    obc = ", ".join(f"{c} ASC" for c in order_cols)
    lvs = ", ".join(str(int(k)) for k in levels)
    return f"""
WITH hub AS (
  SELECT {keys},
         ROW_NUMBER() OVER (PARTITION BY {keys} ORDER BY {obc}) - 1
           AS i,
         CAST({value_col} AS DOUBLE) AS v
  FROM {table}
),
hublk AS (
  SELECT {keys}, k, CAST(FLOOR(i / k) AS BIGINT) AS b,
         AVG(v) AS bm, COUNT(*) AS bn
  FROM hub, unnest([{lvs}]) AS l(k)
  GROUP BY {keys}, k, CAST(FLOOR(i / k) AS BIGINT)
),
huv AS (
  SELECT {keys}, k, VAR_POP(bm) AS var,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM hublk WHERE bn = k GROUP BY {keys}, k
),
huxy AS (
  SELECT {keys}, LN(CAST(k AS DOUBLE)) AS x,
         CASE WHEN var > 0 AND nb > 1 THEN LN(var) END AS y
  FROM huv
),
huf AS (
  SELECT {keys}, CAST(COUNT(y) AS BIGINT) AS n,
         SUM(CASE WHEN y IS NOT NULL THEN x END) AS sx,
         SUM(y) AS sy,
         SUM(CASE WHEN y IS NOT NULL THEN x * x END) AS sxx,
         SUM(x * y) AS sxy
  FROM huxy GROUP BY {keys}
)
SELECT {keys}, n AS n_levels,
       ROUND(1.0 + ((n * sxy - sx * sy)
                    / (CASE WHEN n * sxx - sx * sx > 0
                            AND n = {len(levels)}
                       THEN n * sxx - sx * sx END)) / 2.0, 6) + 0.0
         AS hurst
FROM huf
"""


def peak_detect(df: DataFrame,
                min_delta: float = 0.0) -> DataFrame:
    """Local-maximum peak detection per key: a row is a peak when its
    value STRICTLY exceeds both time-neighbors by ≥ ``min_delta``
    (series endpoints never qualify — a one-sided neighbor is not a
    maximum). The alarm/spike primitive for metric streams; compose
    with ewma/sg_smooth upstream to de-noise first.

    Shape: ONE key window (lag + lead share the same sort), map-only
    predicate — no aggregation, no join. All comparisons are raw-value
    (no arithmetic beyond one subtraction), so engine and oracle agree
    exactly.
    """
    keys = ["event_type"]
    d = float(min_delta)
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in ("ts", "event_id")])
    v = F.col("value").cast("double")
    base = (df.select(*keys, "ts", "event_id", v.alias("_v"))
            .withColumn("_pk", F.row_number().over(w))
            .withColumn("_lg", F.lag("_v").over(w))
            .withColumn("_ld", F.lead("_v").over(w)))
    peak = ((F.col("_lg").isNotNull()) & (F.col("_ld").isNotNull())
            & (F.col("_v") - F.col("_lg") >= d)
            & (F.col("_v") - F.col("_ld") >= d)
            & (F.col("_v") > F.col("_lg"))
            & (F.col("_v") > F.col("_ld")))
    return (base.filter(peak)
            .select(*keys,
                    F.col("_pk").cast("long").alias("pos"),
                    (F.round("_v", 6) + 0.0).alias("value"),
                    (F.round(F.least(F.col("_v") - F.col("_lg"),
                                     F.col("_v") - F.col("_ld")), 6)
                     + 0.0).alias("prominence")))


def peak_detect_sql(table: str,
                    key_cols: Sequence[str] = ("event_type",),
                    order_cols: Sequence[str] = ("ts", "event_id"),
                    value_col: str = "value",
                    min_delta: float = 0.0) -> str:
    """DuckDB oracle: identical lag/lead window and predicate."""
    keys = ", ".join(key_cols)
    obc = ", ".join(f"{c} ASC" for c in order_cols)
    d = float(min_delta)
    return f"""
WITH pkb AS (
  SELECT {keys}, CAST({value_col} AS DOUBLE) AS v,
         ROW_NUMBER() OVER (PARTITION BY {keys} ORDER BY {obc}) AS pk,
         LAG(CAST({value_col} AS DOUBLE)) OVER
           (PARTITION BY {keys} ORDER BY {obc}) AS lg,
         LEAD(CAST({value_col} AS DOUBLE)) OVER
           (PARTITION BY {keys} ORDER BY {obc}) AS ld
  FROM {table}
)
SELECT {keys}, CAST(pk AS BIGINT) AS pos,
       ROUND(v, 6) + 0.0 AS value,
       ROUND(LEAST(v - lg, v - ld), 6) + 0.0 AS prominence
FROM pkb
WHERE lg IS NOT NULL AND ld IS NOT NULL
  AND v - lg >= {d!r} AND v - ld >= {d!r} AND v > lg AND v > ld
"""


def forecast_backtest(df: DataFrame,
                      season: int = 7) -> DataFrame:
    """One-step-ahead backtest of the two standard baseline
    forecasters — naive (ŷₜ = yₜ₋₁) and seasonal-naive (ŷₜ = yₜ₋ₛ) —
    reporting MAE and RMSE per key over the rows where BOTH forecasts
    exist (fair comparison on a common support). The model-selection
    primitive: any real forecaster must beat these numbers before it
    earns cluster time.

    Shape: ONE key window provides both lags (shared sort), one hash
    agg at key cardinality. Errors are |y − ŷ| of raw doubles — no
    cross-engine arithmetic hazards beyond the final averages.
    """
    keys = ["event_type"]
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in ("ts", "event_id")])
    v = F.col("value").cast("double")
    base = (df.select(*keys, "ts", "event_id", v.alias("_v"))
            .withColumn("_l1", F.lag("_v", 1).over(w))
            .withColumn("_ls", F.lag("_v", int(season)).over(w))
            .filter(F.col("_l1").isNotNull()
                    & F.col("_ls").isNotNull()))
    e1 = F.abs(F.col("_v") - F.col("_l1"))
    es = F.abs(F.col("_v") - F.col("_ls"))
    return (base.groupBy(*keys)
            .agg(F.count("*").cast("long").alias("n_eval"),
                 (F.round(F.avg(e1), 6) + 0.0).alias("naive_mae"),
                 (F.round(F.sqrt(F.avg(e1 * e1)), 6) + 0.0)
                 .alias("naive_rmse"),
                 (F.round(F.avg(es), 6) + 0.0).alias("snaive_mae"),
                 (F.round(F.sqrt(F.avg(es * es)), 6) + 0.0)
                 .alias("snaive_rmse")))


def forecast_backtest_sql(table: str,
                          key_cols: Sequence[str] = ("event_type",),
                          order_cols: Sequence[str] = ("ts", "event_id"),
                          value_col: str = "value",
                          season: int = 7) -> str:
    """DuckDB oracle: identical shared-window lags and error
    averages."""
    keys = ", ".join(key_cols)
    obc = ", ".join(f"{c} ASC" for c in order_cols)
    return f"""
WITH fbb AS (
  SELECT {keys}, CAST({value_col} AS DOUBLE) AS v,
         LAG(CAST({value_col} AS DOUBLE), 1) OVER
           (PARTITION BY {keys} ORDER BY {obc}) AS l1,
         LAG(CAST({value_col} AS DOUBLE), {int(season)}) OVER
           (PARTITION BY {keys} ORDER BY {obc}) AS ls
  FROM {table}
)
SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_eval,
       ROUND(AVG(ABS(v - l1)), 6) + 0.0 AS naive_mae,
       ROUND(SQRT(AVG(ABS(v - l1) * ABS(v - l1))), 6) + 0.0
         AS naive_rmse,
       ROUND(AVG(ABS(v - ls)), 6) + 0.0 AS snaive_mae,
       ROUND(SQRT(AVG(ABS(v - ls) * ABS(v - ls))), 6) + 0.0
         AS snaive_rmse
FROM fbb WHERE l1 IS NOT NULL AND ls IS NOT NULL
GROUP BY {keys}
"""


def seasonality_strength(df: DataFrame,
                         period: int = 7) -> DataFrame:
    """Hyndman seasonality / trend strength per key over the classical
    decomposition: Fₛ = max(0, 1 − Var(R)/Var(S+R)) and
    Fₜ = max(0, 1 − Var(R)/Var(T+R)) — the 0..1 "how seasonal / how
    trended is this series" scores feeding forecast-model routing.
    Composes :func:`seasonal_decompose`; the variance readout consumes
    the decomposition's ROUND-6 components, so both engines reduce
    identical inputs.

    Shape: the decomposition's single key window + tiny joins, then
    ONE key-cardinality variance agg over interior rows (trend
    non-NULL).
    """
    dec = seasonal_decompose(df, period=period)
    keys = ["event_type"]
    interior = dec.filter(F.col("trend").isNotNull()
                          & F.col("seasonal").isNotNull())
    vr = F.var_pop("resid")
    # zero-variance denominators (flat trend / no seasonal signal) are
    # legal inputs: strength is NULL there, and ANSI mode must never
    # see the division
    vs = F.when(F.var_pop(F.col("seasonal") + F.col("resid")) > 0,
                F.var_pop(F.col("seasonal") + F.col("resid")))
    vt = F.when(F.var_pop(F.col("trend") + F.col("resid")) > 0,
                F.var_pop(F.col("trend") + F.col("resid")))
    return (interior.groupBy(*keys)
            .agg(F.count("*").cast("long").alias("n_obs"),
                 (F.round(F.greatest(F.lit(0.0), 1.0 - vr / vs), 6)
                  + 0.0).alias("seasonal_strength"),
                 (F.round(F.greatest(F.lit(0.0), 1.0 - vr / vt), 6)
                  + 0.0).alias("trend_strength")))


def seasonality_strength_sql(series_sql: str,
                             key_cols: Sequence[str] = ("event_type",),
                             time_col: str = "day",
                             value_col: str = "v",
                             period: int = 7) -> str:
    """DuckDB oracle: identical decomposition CTE + variance readout."""
    keys = ", ".join(key_cols)
    dec = seasonal_decompose_sql(series_sql, key_cols=key_cols,
                                 time_col=time_col,
                                 value_col=value_col, period=period)
    return f"""
WITH ssd AS (SELECT * FROM ({dec}))
SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_obs,
       ROUND(GREATEST(0.0, 1.0 - VAR_POP(resid)
                           / (CASE WHEN VAR_POP(seasonal + resid) > 0
                              THEN VAR_POP(seasonal + resid) END)), 6)
         + 0.0 AS seasonal_strength,
       ROUND(GREATEST(0.0, 1.0 - VAR_POP(resid)
                           / (CASE WHEN VAR_POP(trend + resid) > 0
                              THEN VAR_POP(trend + resid) END)), 6)
         + 0.0 AS trend_strength
FROM ssd WHERE trend IS NOT NULL AND seasonal IS NOT NULL
GROUP BY {keys}
"""


# ---------------------------------------------------------------------------
# Dynamic time warping distance between keyed series
# ---------------------------------------------------------------------------

def dtw_distance(series: DataFrame,
                 band: Optional[int] = None) -> DataFrame:
    """Banded dynamic-time-warping distance between every pair of
    keyed series (key_a < key_b) — the shape-aware alternative to
    lagged Pearson (`ccf`) for comparing sensor/usage curves that are
    locally stretched or delayed rather than uniformly shifted.
    ``band`` is the Sakoe-Chiba radius (cells |i−j| > band are
    unreachable), the standard O(n·band) scale control; None = exact
    full-matrix DTW. Absolute-difference local cost; returns
    (key_a, key_b, n_a, n_b, dtw).

    Shape: each series reduces to ONE array row via
    sort_array(collect_list(struct(t, v))) — a key-cardinality table —
    then the pair grid (|keys|² rows, never row-cardinality) feeds an
    Arrow-batched pandas UDF running the NumPy DP kernel per pair.
    The DP recurrence is data-dependent and sequential (non-SQL-
    expressible), so correctness is pinned by pytest golden parity
    with an independent full-matrix NumPy reference plus metric
    properties (identity 0, symmetry, shift-robustness vs Euclidean);
    the gate records rows-only.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType

    arr = (series
           .groupBy(F.col("key").alias("k"))
           .agg(F.array_sort(F.collect_list(
               F.struct(F.col("t").alias("t"),
                        F.col("v").cast("double").alias("v"))))
               .alias("pts"))
           .select("k", F.expr("transform(pts, p -> p.v)").alias("vs")))
    a = arr.select(F.col("k").alias("key_a"), F.col("vs").alias("va"))
    b = arr.select(F.col("k").alias("key_b"), F.col("vs").alias("vb"))
    grid = a.join(b, F.col("key_a") < F.col("key_b"))

    bandw = None if band is None else int(band)

    # no type annotations: `from __future__ import annotations` turns
    # them into strings, which pandas_udf's signature inference rejects
    @F.pandas_udf(DoubleType())
    def _dtw(va, vb):
        out = []
        for x_l, y_l in zip(va, vb):
            x = np.asarray(x_l, dtype=np.float64)
            y = np.asarray(y_l, dtype=np.float64)
            n, m = len(x), len(y)
            if n == 0 or m == 0:
                out.append(float("nan"))
                continue
            w = max(bandw, abs(n - m)) if bandw is not None else None
            prev = np.full(m + 1, np.inf)
            prev[0] = 0.0
            for i in range(1, n + 1):
                cur = np.full(m + 1, np.inf)
                lo = 1 if w is None else max(1, i - w)
                hi = m if w is None else min(m, i + w)
                cost = np.abs(x[i - 1] - y[lo - 1:hi])
                for j in range(lo, hi + 1):
                    cur[j] = cost[j - lo] + min(prev[j], prev[j - 1],
                                                cur[j - 1])
                prev = cur
            out.append(float(prev[m]))
        return pd.Series(out)

    return (grid.select(
        "key_a", "key_b",
        F.size("va").alias("n_a"), F.size("vb").alias("n_b"),
        (F.round(_dtw(F.col("va"), F.col("vb")), 6) + 0.0).alias("dtw")))


# ---------------------------------------------------------------------------
# Type-2 slowly-changing dimension build
# ---------------------------------------------------------------------------

def scd2_build(df: DataFrame, key_col: str, ts_col: str,
               attr_cols: Sequence[str]) -> DataFrame:
    """Type-2 slowly-changing-dimension table from a change log: one
    validity interval per (key, attribute-state) run —
    (key, attrs..., valid_from, valid_to, is_current), with
    consecutive no-change rows collapsed first (a feed that re-emits
    unchanged state must not open a new version). The warehouse
    primitive behind as-of dimension joins (`asof_join` consumes
    exactly this shape).

    Shape: ONE key window used twice in the same exchange — a lag
    comparison marks change rows, a lead over the SURVIVING change
    rows closes each interval; both windows share the (key, ts) sort,
    so the whole build is one shuffle. Ties on (key, ts) are broken
    by the full attribute tuple for determinism. 10^12 change rows →
    one exchange, no joins.
    """
    attrs = list(attr_cols)
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(ts_col).asc(), *[F.col(c).asc() for c in attrs]))
    changed = F.lit(False)
    for c in attrs:
        prev = F.lag(F.col(c)).over(w)
        changed = changed | ~(F.col(c).eqNullSafe(prev))
    first = F.lag(F.col(ts_col)).over(w).isNull()
    marked = df.withColumn("_chg", first | changed)
    runs = marked.filter(F.col("_chg"))
    w2 = (Window.partitionBy(key_col)
          .orderBy(F.col(ts_col).asc(), *[F.col(c).asc() for c in attrs]))
    return (runs
            .withColumn("valid_to", F.lead(F.col(ts_col)).over(w2))
            .select(key_col, *attrs,
                    F.col(ts_col).alias("valid_from"), "valid_to",
                    F.col("valid_to").isNull().alias("is_current")))


def scd2_build_sql(table: str, key_col: str, ts_col: str,
                   attr_cols: Sequence[str]) -> str:
    """DuckDB oracle: identical lag-mark + lead-close windows."""
    attrs = list(attr_cols)
    order = ", ".join([f"{ts_col} ASC"] + [f"{c} ASC" for c in attrs])
    chg = " OR ".join(
        f"({c} IS DISTINCT FROM LAG({c}) OVER w)" for c in attrs)
    alist = ", ".join(attrs)
    return f"""
WITH marked AS (
  SELECT *, (LAG({ts_col}) OVER w IS NULL) OR ({chg}) AS _chg
  FROM {table}
  WINDOW w AS (PARTITION BY {key_col} ORDER BY {order})
),
runs AS (SELECT * FROM marked WHERE _chg)
SELECT {key_col}, {alist},
       {ts_col} AS valid_from,
       LEAD({ts_col}) OVER w2 AS valid_to,
       (LEAD({ts_col}) OVER w2 IS NULL) AS is_current
FROM runs
WINDOW w2 AS (PARTITION BY {key_col} ORDER BY {order})
"""


# ---------------------------------------------------------------------------
# Conversion touch attribution (last-touch + journey first-touch)
# ---------------------------------------------------------------------------

def attribution(events: DataFrame, conversion_pred: str,
                touch_pred: str, lookback_seconds: float) -> DataFrame:
    """Marketing-style conversion attribution over an event stream:
    for every conversion event, the LAST qualifying touch strictly
    before it (within ``lookback_seconds``) and the FIRST touch of the
    current journey (touches since the previous conversion reset the
    journey). Output: (key, conv_ts, last_touch_type, last_touch_ts,
    first_touch_type, in_window).

    Shape: ONE key window shared by all four carried columns (last
    touch ts/type via running max over a touch-gated struct; journey
    id via running conversion count; first touch via min-struct over
    the journey partition) — two exchanges total (key, then
    key+journey), no self-join at event cardinality, which is the
    whole point vs the naive conversions×touches range join.
    """
    e = events.select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"),
        F.col("event_type").alias("ty"),
        F.expr(conversion_pred).alias("is_conv"),
        F.expr(touch_pred).alias("is_touch"))
    w = (Window.partitionBy("k")
         .orderBy(F.col("t").asc(), F.col("ty").asc()))
    # running last touch BEFORE the current row: gate the struct to
    # touch rows, take max over the preceding frame
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    last_touch = F.max(F.when(F.col("is_touch"),
                              F.struct("t", "ty"))).over(wprev)
    journey = F.sum(F.when(F.col("is_conv"), 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    marked = (e.withColumn("_lt", last_touch)
              .withColumn("_j", F.coalesce(journey, F.lit(0))))
    wj = Window.partitionBy("k", "_j")
    first_touch = F.min(F.when(F.col("is_touch"),
                               F.struct("t", "ty"))).over(wj)
    out = (marked.withColumn("_ft", first_touch)
           .filter(F.col("is_conv"))
           .select(F.col("k").alias("user_id"),
                   F.col("t").alias("conv_ts"),
                   F.col("ty").alias("conv_type"),
                   F.col("_lt.ty").alias("last_touch_type"),
                   F.col("_lt.t").alias("last_touch_ts"),
                   F.col("_ft.ty").alias("first_touch_type"),
                   (F.col("_lt").isNotNull()
                    & (F.col("t").cast("timestamp").cast("double")
                       - F.col("_lt.t").cast("timestamp").cast("double")
                       <= F.lit(float(lookback_seconds))))
                   .alias("in_window")))
    return out


def attribution_sql(table: str, conversion_pred: str, touch_pred: str,
                    lookback_seconds: float, key: str = "user_id",
                    ts_col: str = "ts",
                    type_col: str = "event_type") -> str:
    """DuckDB oracle: identical windows (struct-max carries become
    argmax via ROW_NUMBER-free last_value over ordered frames —
    expressed with the same max-over-struct trick via ROW()
    comparison is not portable, so the oracle uses the classic
    max(CASE)-pair on (epoch, type) packed into a sortable string)."""
    # pack (t, ty) into a lexically sortable token: zero-padded micros
    pack = (f"CASE WHEN {{gate}} THEN "
            f"lpad(CAST(epoch_us({ts_col}) AS VARCHAR), 20, '0')"
            f" || '|' || {type_col} END")
    lt = pack.format(gate=f"({touch_pred})")
    return f"""
WITH e AS (
  SELECT {key} AS k, {ts_col} AS t, {type_col} AS ty,
         ({conversion_pred}) AS is_conv, ({touch_pred}) AS is_touch,
         {lt} AS tok
  FROM {table}
),
m AS (
  SELECT *,
         MAX(tok) OVER (PARTITION BY k ORDER BY t ASC, ty ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS lt_tok,
         COALESCE(SUM(CASE WHEN is_conv THEN 1 ELSE 0 END)
                  OVER (PARTITION BY k ORDER BY t ASC, ty ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS j
  FROM e
),
mj AS (
  SELECT *,
         MIN(tok) OVER (PARTITION BY k, j) AS ft_tok
  FROM m
)
SELECT k AS {key}, t AS conv_ts, ty AS conv_type,
       CASE WHEN lt_tok IS NOT NULL
            THEN substr(lt_tok, 22) END AS last_touch_type,
       CASE WHEN lt_tok IS NOT NULL
            THEN make_timestamp(CAST(substr(lt_tok, 1, 20) AS BIGINT))
            END AS last_touch_ts,
       CASE WHEN ft_tok IS NOT NULL
            THEN substr(ft_tok, 22) END AS first_touch_type,
       (lt_tok IS NOT NULL AND
        epoch(t) - epoch(make_timestamp(CAST(substr(lt_tok, 1, 20)
                                             AS BIGINT)))
          <= {float(lookback_seconds)!r}) AS in_window
FROM mj WHERE is_conv
"""


# ---------------------------------------------------------------------------
# Two-group log-rank test (companion to kaplan_meier)
# ---------------------------------------------------------------------------

def log_rank_test(events: DataFrame, group_expr: str) -> DataFrame:
    """Two-group log-rank test over the SAME per-entity lifetime +
    censoring construction as :func:`kaplan_meier` — "do the two arms'
    survival curves differ", the inferential companion to the KM
    plot. ``group_expr`` evaluates per entity on its FIRST-event row
    attributes (entity-level covariate). One row:
    (n0, n1, observed1, expected1, var, chi2, z, p_approx).

    At each distinct death duration t: d_j deaths and n_j at-risk per
    group; E1 += d·n1/n, V += d·(n1/n)·(1−n1/n)·(n−d)/(n−1). Shape:
    entity-cardinality hash agg → (duration, group) histogram →
    suffix at-risk windows over that tiny table → one global fold.
    Identical algebra renders into the oracle.
    """
    per = (events.groupBy("user_id")
           .agg(F.min("ts").alias("_first"),
                F.max("ts").alias("_last"),
                F.expr(f"min_by({group_expr}, ts)").alias("_g")))
    gmax = events.agg(F.max("ts").alias("_gmax"))
    per = (per.crossJoin(F.broadcast(gmax))
           .select(
               F.col("_g").cast("int").alias("g"),
               F.datediff(F.col("_last"), F.col("_first")).alias("dur"),
               # STRICTLY beyond the horizon, matching kaplan_meier's
               # `_last < gmax - horizon` exactly (the docstring
               # promises the same censoring construction; a lifetime
               # ending exactly `horizon` days before the observation
               # end is CENSORED in both operators)
               (F.datediff(F.col("_gmax"), F.col("_last"))
                > 7).alias("died")))
    hist = (per.groupBy("dur", "g")
            .agg(F.sum(F.when(F.col("died"), 1).otherwise(0)).alias("d"),
                 F.count("*").alias("m")))
    # at-risk per (dur, g): suffix sum of m over durations >= dur
    wg = (Window.partitionBy("g").orderBy(F.col("dur").asc())
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    ar = hist.withColumn("n_at", F.sum("m").over(wg))
    # pivot the two groups onto one row per duration
    piv = (ar.groupBy("dur")
           .agg(F.sum(F.when(F.col("g") == 1, F.col("d"))
                      .otherwise(0)).alias("d1"),
                F.sum("d").alias("dd"),
                F.max(F.when(F.col("g") == 1, F.col("n_at")))
                .alias("n1_raw"),
                F.max(F.when(F.col("g") == 0, F.col("n_at")))
                .alias("n0_raw")))
    # a group absent at this duration is still at risk with the suffix
    # count from the next-present duration; easiest exact form: fill
    # via a second suffix window over the duration axis
    wfill = (Window.orderBy(F.col("dur").asc())
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    piv = (piv.withColumn("n1", F.max("n1_raw").over(wfill))
           .withColumn("n0", F.max("n0_raw").over(wfill)))
    fold = (piv.filter(F.col("dd") > 0)
            .select(
                F.col("d1"), F.col("dd"),
                F.coalesce("n1", F.lit(0)).alias("n1"),
                F.coalesce("n0", F.lit(0)).alias("n0"))
            .withColumn("n", F.col("n0") + F.col("n1"))
            .filter(F.col("n") > 0)
            .agg(F.sum("d1").alias("o1"),
                 F.sum(F.col("dd") * F.col("n1") / F.col("n"))
                 .alias("e1"),
                 F.sum(F.expr(
                     "CASE WHEN n > 1 THEN dd * (CAST(n1 AS DOUBLE) / n)"
                     " * (1.0 - CAST(n1 AS DOUBLE) / n) * (n - dd) / (n - 1)"
                     " ELSE 0.0 END")).alias("v")))
    tot = per.groupBy().agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n0_tot"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1_tot"))
    from satellitetools_spark.operators.inference import _WSR_P_FMT
    z = "CASE WHEN v > 0 THEN (o1 - e1) / sqrt(v) END"
    # chi-square with 1 dof == two-sided normal: p = erfc(|z|/sqrt(2)),
    # rendered with the shared A&S erf polynomial string
    p = ("CASE WHEN v > 0 THEN "
         + _WSR_P_FMT.format(z=f"ABS({z})") + " END")
    return (fold.crossJoin(F.broadcast(tot))
            .select(F.col("n0_tot").cast("long").alias("n0"),
                    F.col("n1_tot").cast("long").alias("n1"),
                    F.col("o1").cast("long").alias("observed1"),
                    (F.round("e1", 6) + 0.0).alias("expected1"),
                    (F.round("v", 6) + 0.0).alias("var"),
                    (F.round(F.expr(f"CASE WHEN v > 0 THEN"
                                    f" pow(o1 - e1, 2) / v END"), 6)
                     + 0.0).alias("chi2"),
                    (F.round(F.expr(z), 6) + 0.0).alias("z"),
                    (F.round(F.expr(p), 6) + 0.0).alias("p_approx")))


def log_rank_test_sql(table: str, group_expr: str,
                      key: str = "user_id", time_col: str = "ts",
                      censor_horizon_days: int = 7) -> str:
    """DuckDB oracle: identical lifetime construction, suffix at-risk
    windows, and fold."""
    from satellitetools_spark.operators.inference import _WSR_P_FMT
    _p = _WSR_P_FMT.format(z="ABS((o1 - e1) / sqrt(v))")
    return f"""
WITH per0 AS (
  SELECT {key} AS k, MIN({time_col}) AS _first, MAX({time_col}) AS _last,
         CAST(min_by({group_expr}, {time_col}) AS INT) AS g
  FROM {table} GROUP BY {key}
),
gm AS (SELECT MAX({time_col}) AS _gmax FROM {table}),
per AS (
  SELECT g, date_diff('day', _first, _last) AS dur,
         date_diff('day', _last, _gmax) > {int(censor_horizon_days)}
           AS died
  FROM per0 CROSS JOIN gm
),
hist AS (
  SELECT dur, g, SUM(CASE WHEN died THEN 1 ELSE 0 END) AS d,
         COUNT(*) AS m
  FROM per GROUP BY dur, g
),
ar AS (
  SELECT *, SUM(m) OVER (PARTITION BY g ORDER BY dur
                         ROWS BETWEEN CURRENT ROW
                         AND UNBOUNDED FOLLOWING) AS n_at
  FROM hist
),
piv AS (
  SELECT dur,
         SUM(CASE WHEN g = 1 THEN d ELSE 0 END) AS d1,
         SUM(d) AS dd,
         MAX(CASE WHEN g = 1 THEN n_at END) AS n1_raw,
         MAX(CASE WHEN g = 0 THEN n_at END) AS n0_raw
  FROM ar GROUP BY dur
),
filled AS (
  SELECT dur, d1, dd,
         MAX(n1_raw) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING) AS n1,
         MAX(n0_raw) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING) AS n0
  FROM piv
),
fold AS (
  SELECT SUM(d1) AS o1,
         SUM(dd * COALESCE(n1, 0) * 1.0
             / (COALESCE(n0, 0) + COALESCE(n1, 0))) AS e1,
         SUM(CASE WHEN COALESCE(n0, 0) + COALESCE(n1, 0) > 1
             THEN dd * (COALESCE(n1, 0) * 1.0
                        / (COALESCE(n0, 0) + COALESCE(n1, 0)))
                  * (1.0 - COALESCE(n1, 0) * 1.0
                     / (COALESCE(n0, 0) + COALESCE(n1, 0)))
                  * ((COALESCE(n0, 0) + COALESCE(n1, 0)) - dd)
                  / ((COALESCE(n0, 0) + COALESCE(n1, 0)) - 1)
             ELSE 0.0 END) AS v
  FROM filled
  WHERE dd > 0 AND COALESCE(n0, 0) + COALESCE(n1, 0) > 0
),
tot AS (
  SELECT SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0_tot,
         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1_tot
  FROM per
)
SELECT CAST(n0_tot AS BIGINT) AS n0, CAST(n1_tot AS BIGINT) AS n1,
       CAST(o1 AS BIGINT) AS observed1,
       ROUND(e1, 6) + 0.0 AS expected1,
       ROUND(v, 6) + 0.0 AS var,
       ROUND(CASE WHEN v > 0 THEN pow(o1 - e1, 2) / v END, 6) + 0.0
         AS chi2,
       ROUND(CASE WHEN v > 0 THEN (o1 - e1) / sqrt(v) END, 6) + 0.0
         AS z,
       ROUND(CASE WHEN v > 0 THEN {_p} END, 6) + 0.0 AS p_approx
FROM fold CROSS JOIN tot
"""
