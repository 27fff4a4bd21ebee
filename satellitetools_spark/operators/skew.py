"""Skew handling: salted aggregation and joins on hot keys (Axis B).

Hot tiles (one MGRS tile carrying a large share of all documents) make
any tile-keyed shuffle skewed. Defenses:

1. AQE skew-join splitting (enabled in session.py) — runtime splitting of
   oversized shuffle partitions;
2. :func:`salted_group_count` — a two-stage count whose partial stage
   groups on ``(key, salt)``, so a hot key spreads over ``n_salt`` tasks;
3. :func:`salted_join` — a salted shuffle join against a hot-keyed
   dimension too big to broadcast.

Per-document operators (decode, kNN fill) key on doc_id — already uniform —
so salting applies to key-level aggregations and joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_group_count(df: DataFrame, n_salt: int = 16) -> DataFrame:
    """Two-stage (salted partial + final) count per ``tileid`` — the map-side
    combine pattern made explicit for very hot keys."""
    salt = F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salt))
    partial = df.groupBy(F.col("tileid"), salt.alias("_salt")).count()
    return partial.groupBy("tileid").agg(F.sum("count").alias("count"))


def salted_join(big: DataFrame, dim: DataFrame, key: str,
                n_salt: int = 16, how: str = "inner") -> DataFrame:
    """Skew-proof equi-join of a big fact table against a dimension with
    HOT keys: the big side gets a random-but-deterministic salt in
    ``[0, n_salt)``, the dimension is replicated ``n_salt``× with every
    salt value, and the join runs on ``(key, salt)`` — a hot key's rows
    now spread over ``n_salt`` shuffle partitions instead of serializing
    into one straggler task.

    This is the shuffle-join fallback for when the dimension is TOO BIG
    to broadcast (broadcast is always the first choice and needs no
    salting) and AQE's skew-join splitting can't help — e.g. the skewed
    side feeds a subsequent keyed aggregation that must stay co-
    partitioned. Cost: ``n_salt``× replication of the dimension ONLY
    (explode of a literal range — no extra shuffle of the big side
    beyond the join's own), result identical to the plain join for any
    ``how`` ∈ {inner, left} (each big row carries exactly one salt, each
    dim row exists for every salt — match iff the plain join matches).

    The salt hashes the whole row identity (``monotonically_increasing_
    id`` is layout-dependent, fine for load spreading, never used in the
    result), so no column requirements beyond the key.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join: how must be inner or left")
    salt = F.pmod(F.hash(F.monotonically_increasing_id()),
                  F.lit(n_salt)).cast("int")
    b = big.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    out = b.join(d, [key, "_salt"], how)
    return out.drop("_salt")
