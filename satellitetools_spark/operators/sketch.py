"""Distinct-count sketching: K-minimum-values (KMV) estimator.

The HLL-role operator for vocabulary / key-cardinality estimation in a
training-data pipeline (vocab sizing, join-key cardinality for plan
choice, dedup-rate monitoring). KMV keeps the k smallest distinct hash
values of a key stream; if the k-th smallest is h_k over a hash space of
size M, the distinct count is estimated as (k-1) * M / h_k (the order-
statistics estimator of Bar-Yossef et al., relative error ~ 1/sqrt(k)).

Unlike engine-native ``approx_count_distinct`` (whose HLL++ registers
are implementation-defined and cannot be reproduced by an oracle), the
hash here is the repo's portable polynomial (131, 1e9+7) char fold — so
a DuckDB twin computes the bit-identical sketch, estimate and all, and
the correctness gate covers an *approximate* operator exactly.

Distributed shape: explode → hash → hash-aggregate on the hash value.
The map-side partial dedup means the shuffle carries per-partition
DISTINCT hashes only (each partition's stream collapses to its local
sketch-superset), then ``ORDER BY h LIMIT k`` compiles to
TakeOrderedAndProject — per-partition top-k heaps merged on the driver
at k·P rows, never a global sort. The exact distinct count rides along
in the same plan for gate-time error accounting; production callers
drop that column and with it the only vocabulary-cardinality
aggregation state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import _M, portable_hash, portable_hash_sql

_B = 131


def _mix(h):
    """Nonlinear post-mix for order-statistics use: the raw polynomial
    fold maps strings differing only in the last char to CONSECUTIVE
    values (the fold's last step adds the char code), which clumps the
    low order statistics and biases the KMV estimator ~4x. Squaring mod
    p spreads consecutive inputs by ~2h ≈ the full hash space. All
    intermediates stay < 2^63 (h < 1e9+7, h² < 1e18), so Spark long and
    DuckDB BIGINT compute it bit-identically."""
    return ((h * h) % _M * _B + h) % _M


def _mix_sql(expr: str) -> str:
    h = f"CAST({expr} AS BIGINT)"
    return f"(({h} * {h}) % {_M} * {_B} + {h}) % {_M}"


def kmv_distinct(docs: DataFrame, k: int = 256) -> DataFrame:
    """One-row KMV distinct-token estimate over a document corpus:
    ``(k, n_kept, kth_hash, est_distinct, exact_distinct)``.

    ``n_kept < k`` means the stream had fewer than k distinct hashes —
    the sketch then IS the exact distinct set and the estimate degrades
    to the exact count (the standard small-cardinality escape).
    """
    if k < 2:
        raise ValueError("kmv_distinct: k must be >= 2")
    toks = F.regexp_extract_all(F.lower(F.col("text")),
                                F.lit("[a-z0-9]+"), 0)
    # exact_distinct counts DISTINCT TOKENS, not distinct hash values:
    # at ~1e6-token vocabularies the 1e9+7 hash space already expects
    # hundreds of collisions (n²/2M), so a distinct-hash count silently
    # undercounts the true cardinality the column claims to report
    ts = docs.select(F.explode(toks).alias("token")).distinct()
    hs = (ts.select(_mix(portable_hash(F.col("token"))).alias("h"))
          .distinct())
    kmin = hs.select("h").orderBy("h").limit(k)
    sketch = kmin.agg(
        F.count("*").alias("n_kept"), F.max("h").alias("kth_hash"))
    exact = ts.agg(F.count("*").alias("exact_distinct"))
    return (sketch.crossJoin(F.broadcast(exact))
            .select(F.lit(k).alias("k"), "n_kept", "kth_hash",
                    F.round(F.when(F.col("n_kept") < k,
                                   F.col("n_kept").cast("double"))
                            .otherwise((F.lit(float(k - 1)) * F.lit(float(_M)))
                                       / F.col("kth_hash")), 6)
                    .alias("est_distinct"),
                    "exact_distinct"))


def kmv_distinct_sql(table: str = "documents", k: int = 256,
                     text_col: str = "text") -> str:
    """DuckDB oracle: the bit-identical sketch and estimator."""
    return f"""
WITH ktoks AS (
  SELECT unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS token
  FROM {table}
),
kts AS (SELECT DISTINCT token FROM ktoks),
kraw AS (SELECT {portable_hash_sql('token')} AS h0 FROM kts),
khs AS (SELECT DISTINCT {_mix_sql('h0')} AS h FROM kraw),
kmin AS (SELECT h FROM khs ORDER BY h LIMIT {k}),
sk AS (SELECT COUNT(*) AS n_kept, MAX(h) AS kth_hash FROM kmin)
SELECT {k} AS k, n_kept, kth_hash,
       ROUND(CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
             ELSE {float(k - 1)!r} * {float(_M)!r} / kth_hash END,
             6) AS est_distinct,
       (SELECT COUNT(*) FROM kts) AS exact_distinct
FROM sk
"""


def kmv_distinct_by(docs: DataFrame) -> DataFrame:
    """Per-language KMV sketches (k = 64): one row per ``lang`` with the
    k-minimum-value estimate and the exact distinct count — vocabulary
    size per language in a single pass. Demonstrates the property that
    makes KMV the right scale sketch: per-group state is k values,
    mergeable by union+truncate, so a 10^12-token corpus reduces to
    groups × k longs.

    Shape: explode → hash → DISTINCT (group, hash) with map-side partial
    dedup, then a per-group k-min via ranked window over the distinct
    set (group-vocabulary cardinality, ≪ token stream) and one hash agg
    at group cardinality.
    """
    from pyspark.sql import Window
    toks = F.regexp_extract_all(F.lower(F.col("text")),
                                F.lit("[a-z0-9]+"), 0)
    # distinct (group, token) first: exact_distinct must count tokens,
    # not hash values (hash collisions undercount the true cardinality)
    ts = (docs.select(F.col("lang").alias("grp"),
                      F.explode(toks).alias("token"))
          .distinct())
    hs = (ts.select("grp", _mix(portable_hash(F.col("token"))).alias("h"))
          .distinct())
    w = Window.partitionBy("grp").orderBy("h")
    kmin = hs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 64)
    sk = kmin.groupBy("grp").agg(F.count("*").alias("n_kept"),
                                 F.max("h").alias("kth_hash"))
    exact = ts.groupBy("grp").agg(F.count("*").alias("exact_distinct"))
    return (sk.join(exact, "grp")
            .select(F.col("grp").alias("lang"), F.lit(64).alias("k"),
                    "n_kept", "kth_hash",
                    F.round(F.when(F.col("n_kept") < 64,
                                   F.col("n_kept").cast("double"))
                            .otherwise((F.lit(63.0) * F.lit(float(_M)))
                                       / F.col("kth_hash")), 6)
                    .alias("est_distinct"),
                    "exact_distinct"))


def kmv_distinct_by_sql(table: str = "documents", group_col: str = "lang",
                        k: int = 64, text_col: str = "text") -> str:
    """DuckDB oracle: bit-identical per-group sketch and estimator."""
    return f"""
WITH gtoks AS (
  SELECT {group_col} AS grp,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS token
  FROM {table}
),
gts AS (SELECT DISTINCT grp, token FROM gtoks),
graw AS (SELECT grp, {portable_hash_sql('token')} AS h0 FROM gts),
ghs AS (SELECT DISTINCT grp, {_mix_sql('h0')} AS h FROM graw),
gkmin AS (
  SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM ghs
),
gsk AS (SELECT grp, COUNT(*) AS n_kept, MAX(h) AS kth_hash
        FROM gkmin WHERE rn <= {k} GROUP BY grp),
gex AS (SELECT grp, COUNT(*) AS exact_distinct FROM gts GROUP BY grp)
SELECT grp AS {group_col}, {k} AS k, n_kept, kth_hash,
       ROUND(CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
             ELSE {0.0 + (k - 1)!r} * {1000000007.0!r} / kth_hash END,
             6) AS est_distinct,
       exact_distinct
FROM gsk JOIN gex USING (grp)
"""


def kmv_distinct_keys(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group KMV over an arbitrary KEY column (distinct users per
    day, distinct sessions per tile, …) — :func:`kmv_distinct_by`
    without the tokenizer: the sketch input is ``key_col`` cast to
    string and hashed with the same mixed portable fold, so any keyed
    stream gets mergeable groups × k distinct-count state (k = 64).

    Same shape: DISTINCT (group, hash) with map-side partial dedup,
    ranked window at group-key cardinality, one agg at group
    cardinality; exact count alongside for error accounting.
    """
    from pyspark.sql import Window
    ts = (df.select(F.col(group_col).alias("grp"),
                    F.col(key_col).cast("string").alias("key"))
          .distinct())
    hs = (ts.select("grp", _mix(portable_hash(F.col("key"))).alias("h"))
          .distinct())
    w = Window.partitionBy("grp").orderBy("h")
    kmin = hs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 64)
    sk = kmin.groupBy("grp").agg(F.count("*").alias("n_kept"),
                                 F.max("h").alias("kth_hash"))
    exact = ts.groupBy("grp").agg(F.count("*").alias("exact_distinct"))
    return (sk.join(exact, "grp")
            .select(F.col("grp").alias(group_col), F.lit(64).alias("k"),
                    "n_kept", "kth_hash",
                    F.round(F.when(F.col("n_kept") < 64,
                                   F.col("n_kept").cast("double"))
                            .otherwise((F.lit(63.0) * F.lit(float(_M)))
                                       / F.col("kth_hash")), 6)
                    .alias("est_distinct"),
                    "exact_distinct"))


def kmv_distinct_keys_sql(source_sql: str, group_col: str, key_col: str,
                          k: int = 64) -> str:
    """DuckDB oracle: bit-identical generic-key sketch."""
    return f"""
WITH ksrc AS ({source_sql}),
kkts AS (SELECT DISTINCT {group_col} AS grp,
                CAST({key_col} AS VARCHAR) AS key
         FROM ksrc),
kkraw AS (SELECT grp, {portable_hash_sql('key')} AS h0 FROM kkts),
kkhs AS (SELECT DISTINCT grp, {_mix_sql('h0')} AS h FROM kkraw),
kkmin AS (
  SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM kkhs
),
kksk AS (SELECT grp, COUNT(*) AS n_kept, MAX(h) AS kth_hash
         FROM kkmin WHERE rn <= {k} GROUP BY grp),
kkex AS (SELECT grp, COUNT(*) AS exact_distinct FROM kkts GROUP BY grp)
SELECT grp AS {group_col}, {k} AS k, n_kept, kth_hash,
       ROUND(CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
             ELSE {0.0 + (k - 1)!r} * {1000000007.0!r} / kth_hash END,
             6) AS est_distinct,
       exact_distinct
FROM kksk JOIN kkex USING (grp)
"""


# ---------------------------------------------------------------------------
# Two-pass Misra-Gries heavy hitters over tokens
# ---------------------------------------------------------------------------

def heavy_hitters(docs: DataFrame, phi: float = 0.01) -> DataFrame:
    """All tokens occupying ≥ ``phi`` of the corpus token stream, with
    their EXACT counts — the φ-heavy-hitters a tokenizer/vocab audit
    needs, computed without ever shuffling the full token alphabet.

    Two passes, the classic sketch-then-verify shape:

    1. **Candidates** (map-only + tiny shuffle): each partition runs a
       Misra-Gries summary with k = ⌈2/φ⌉ counters over its token
       stream (a Python dict inside `mapInPandas`, O(k) memory,
       Arrow-batched). MG undercounts any token by ≤ n_p/k, and the
       per-partition summaries MERGE by simple addition with the
       errors adding: merged(t) ≥ true(t) − n/k ≥ true(t) − φn/2. So
       keeping merged ≥ φn/2 can never drop a true φ-heavy token —
       the guarantee is deterministic, not probabilistic. The shuffle
       carries ≤ k·partitions candidate rows, not the alphabet.
    2. **Exact verify**: one more scan counts ONLY the candidate
       tokens (broadcast hash semi-join on the exploded stream — no
       alphabet-sized state), and the φn cut is applied to exact
       counts. Output = exact counts of exactly the true heavy
       hitters; the sketch decides what's cheap to count, never what's
       true.

    At 10^12 rows this is the only honest shape: a direct
    `groupBy(token)` shuffles the full vocabulary (billions of keys,
    hot-token skew); here pass 1's wire traffic is bounded by k·tasks
    and pass 2's by |candidates| ≤ 2/φ.
    """
    if not (0.0 < phi < 1.0):
        raise ValueError(f"heavy_hitters: phi must be in (0,1), got {phi}")
    k = int(2.0 / phi) + 1
    import pandas as pd  # local import: keep module import light

    def _mg(batches):
        import re
        counters: dict = {}
        total = 0
        for pdf in batches:
            for text in pdf["text"]:
                if text is None:
                    continue
                toks = re.split(r"\s+", text.strip())
                total += len(toks)
                for t in toks:
                    if t in counters:
                        counters[t] += 1
                    elif len(counters) < k:
                        counters[t] = 1
                    else:
                        # decrement-all step, dropping zeroed counters
                        dead = []
                        for key in counters:
                            counters[key] -= 1
                            if counters[key] == 0:
                                dead.append(key)
                        for key in dead:
                            del counters[key]
        yield pd.DataFrame(
            {"token": list(counters.keys()) + ["\x00__total__"],
             "lb": list(counters.values()) + [total]})

    summary = docs.select("text").mapInPandas(
        _mg, schema="token string, lb long")
    merged = (summary.groupBy("token")
              .agg(F.sum("lb").alias("lb")))
    total = (merged.filter(F.col("token") == "\x00__total__")
             .select(F.col("lb").alias("n_tokens")))
    cand = (merged.filter(F.col("token") != "\x00__total__")
            .crossJoin(F.broadcast(total))
            .filter(F.col("lb") >= F.lit(phi / 2.0) * F.col("n_tokens"))
            .select("token"))
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+"))
        .alias("token"))
    # one verify scan produces BOTH the exact candidate counts and the
    # exact global token total: non-candidates collapse into a single
    # NULL-keyed bucket (broadcast left join + conditional group key),
    # so the threshold and the share use the SAME tokenization the
    # oracle sees — the MG pass's Python-side total only steered the
    # candidate cut, where an off-by-a-few is absorbed by the φn/2 slack
    exact = (toks.join(F.broadcast(cand.withColumn("m", F.lit(1))),
                       "token", "left")
             .groupBy(F.when(F.col("m").isNotNull(), F.col("token"))
                      .alias("tk"))
             .agg(F.count("*").cast("long").alias("cnt"))
             .localCheckpoint(eager=False))
    # exact global token total as a driver-side scalar off the pinned
    # candidate table (candidate-cardinality rows, ONE value back) —
    # a whole-frame window here would funnel the candidate table,
    # which grows with partitions × 2/φ at cluster scale, through a
    # single task
    n_tokens = float(exact.agg(F.sum("cnt")).collect()[0][0] or 0)
    return (exact
            .filter(F.col("tk").isNotNull()
                    & (F.col("cnt").cast("double")
                       >= F.lit(phi * n_tokens)))
            .select(F.col("tk").alias("token"), F.col("cnt"),
                    (F.round(F.col("cnt").cast("double")
                             / F.lit(n_tokens), 6) + 0.0)
                    .alias("share")))


def heavy_hitters_sql(table: str = "documents", text_col: str = "text",
                      phi: float = 0.01) -> str:
    """DuckDB oracle: the heavy-hitter SET and counts are exact, so the
    oracle is the direct (alphabet-shuffling) computation the operator
    exists to avoid — exact counts HAVING cnt ≥ φ·n."""
    return f"""
WITH hht AS (
  SELECT unnest(regexp_split_to_array(trim({text_col}), '\\s+')) AS token
  FROM {table}
),
hhn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_tokens FROM hht),
hhc AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM hht GROUP BY token
)
SELECT token, cnt,
       ROUND(CAST(cnt AS DOUBLE) / n_tokens, 6) + 0.0 AS share
FROM hhc, hhn
WHERE CAST(cnt AS DOUBLE) >= {phi!r} * n_tokens
"""
