"""Incremental aggregation (materialized-view maintenance): keep a
per-key statistics table current by merging MERGEABLE partial-aggregate
state from new partitions only, never re-scanning history.

The state per key is the classic combine-able tuple ``(n, Σv, Σv²,
min, max)`` — count/sum/sum-of-squares/extrema all merge by
sum/sum/sum/min/max, so

    stats(A ∪ B) = merge(partial(A), partial(B))

holds EXACTLY (floating-point reassociation aside), which is what makes
a 100 TB daily pipeline affordable: each increment costs
O(|new data| + |state|) instead of O(|history|). Mean / variance /
stddev are finalized from the state at read time (population variance
``Σv²/n − mean²``, clamped at 0 against cancellation). Quantiles are
deliberately NOT part of the state — exact medians do not merge; a
mergeable sketch (t-digest / KLL) is the standard substitute and the
flagship timeseries operator's exact/approx split already models that
trade-off.

At scale the state table is key-cardinality (tiny next to the input);
both the partial build and the merge are single hash aggregations with
map-side combine, and the merge's union is partition-local (no extra
shuffle beyond the one keyed aggregation).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def partial_stats(df: DataFrame, keys: Sequence[str],
                  value_col: str) -> DataFrame:
    """Mergeable per-key state from one increment: one hash agg."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("ss"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"))


def merge_stats(state: DataFrame, delta: DataFrame,
                keys: Sequence[str]) -> DataFrame:
    """Combine two state tables (previous state + new increment's
    partials) into the updated state — the MERGE step of view
    maintenance. Associative and commutative, so any number of
    increments fold in any order."""
    u = state.unionByName(delta)
    return u.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"))


def finalize_stats(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Read-time finalization: derive mean/std from the mergeable state
    (population variance, cancellation-clamped)."""
    mean = F.col("s") / F.col("n")
    var = F.greatest(F.col("ss") / F.col("n") - mean * mean, F.lit(0.0))
    return state.select(
        *keys,
        "n",
        mean.alias("mean"),
        F.sqrt(var).alias("std"),
        F.col("mn").alias("min"),
        F.col("mx").alias("max"))
