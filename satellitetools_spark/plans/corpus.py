"""End-to-end training-data pipeline: the composition a pretraining corpus
actually runs — quality filter → repetition filter → language filter →
exact-dedup keeper → sequence packing — fused Spark-first.

The per-document stages (quality, repetition, language, fingerprint) are
all pure column expressions, so instead of running each operator and
joining their outputs back on doc_id (3 shuffles before any real work),
the pipeline evaluates every statistic inside ONE projection chain over a
single corpus scan. The only wide operations are the two that genuinely
need data movement: the duplicate-keeper window (exchange on fingerprint)
and the packing window (exchange on shard). Total: one scan, two
exchanges, zero Python.

The keep test is projected as a boolean column and applied above the
keeper window, not as a Filter over the scored projection: Catalyst
would push such a Filter below the projection and substitute the score
aliases into it, so every score would be computed twice.

Reference scope analog: the reference composes its quality screen +
duplicate drop + timeseries in `get_s2_qi_and_data`
(satellitetools/aws.py:94-150); this is the text-corpus counterpart over
the interleaved-document table.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import sampling as SAMP
from ..operators import text as TX

MIN_QUALITY = 0.45
MAX_DUP_LINE_FRAC = 0.5
MAX_TOP2GRAM_FRAC = 0.25
ALLOWED_LANGS = ("en",)
PACK_SEQ_LEN = 512
PACK_SHARDS = 8


def train_data_pipeline(docs: DataFrame,
                        seq_len: int = PACK_SEQ_LEN,
                        n_shards: int = PACK_SHARDS) -> DataFrame:
    """Filter → dedup → pack, one scan + two exchanges.

    Output: (doc_id, shard, n_tokens, start_offset, pack_id, pack_pos)
    for every surviving document — the layout a sequence writer needs.
    """
    t = F.col("text")
    # stage 0: spread a single-row-group hot table across cores, so the
    # per-document scoring below runs above a round-robin exchange
    # instead of on the scan's (possibly single) task
    docs = TX.spread_scan(docs)
    # stage 1: repetition folds, carrying the text through
    rep = TX.repetition_stats(docs, keep=("text",))
    # stage 2: fuse quality / language / fingerprint into one projection;
    # the language score array is projected first so each marker count is
    # evaluated once (see text.lang_scores); the threshold test is
    # projected as `_keep`, not filtered on (see the module docstring)
    scored = rep.select(
        "doc_id", "text", "dup_line_frac", "top2gram_frac",
        TX.quality_exprs(t)["quality"].alias("quality"),
        TX.lang_scores(F.lower(t)).alias("_sc"),
        F.md5(F.lower(F.regexp_replace(t, "\\s+", " "))).alias("_fp"),
    ).withColumn("lang_pred", TX.lang_exprs(F.col("_sc"))["lang_pred"])
    scored = scored.withColumn("_keep", (
        (F.col("quality") >= MIN_QUALITY)
        & (F.col("dup_line_frac") <= MAX_DUP_LINE_FRAC)
        & (F.col("top2gram_frac") <= MAX_TOP2GRAM_FRAC)
        & F.col("lang_pred").isin(*ALLOWED_LANGS)))
    # stage 3: exact-dedup keeper — min kept doc_id per fingerprint
    # (exchange 1); Catalyst does not push a predicate on non-partition
    # columns through a Window, so the keep test stays above it
    w = Window.partitionBy("_fp")
    keeper = F.min(F.when(F.col("_keep"), F.col("doc_id"))).over(w)
    surv = (scored.withColumn("_keeper", keeper)
            .filter(F.col("_keep") & (F.col("doc_id") == F.col("_keeper")))
            .select("doc_id", "text"))
    # stage 4: pack survivors (exchange 2)
    return SAMP.pack_sequences(surv, seq_len=seq_len, n_shards=n_shards)


def train_data_pipeline_sql(table: str = "documents",
                            min_quality: float = MIN_QUALITY,
                            max_dup_line_frac: float = MAX_DUP_LINE_FRAC,
                            max_top2gram_frac: float = MAX_TOP2GRAM_FRAC,
                            allowed_langs: Sequence[str] = ALLOWED_LANGS,
                            seq_len: int = PACK_SEQ_LEN,
                            n_shards: int = PACK_SHARDS,
                            text_col: str = "text") -> str:
    """DuckDB oracle: the same composition expressed as independent
    per-operator CTEs joined on doc_id (deliberately a different physical
    shape than the fused Spark plan)."""
    langs = ", ".join(f"'{x}'" for x in allowed_langs)
    pack_ctes, pack_final = SAMP.pack_sequences_sql_parts(
        table="surv", seq_len=seq_len, n_shards=n_shards,
        text_col=text_col)
    return f"""
WITH rep AS ({TX.repetition_stats_sql(table, text_col)}),
q AS ({TX.quality_score_sql(table, text_col)}),
l AS ({TX.lang_id_sql(table, text_col)}),
fp AS ({TX.fingerprint_sql(table, text_col)}),
kept AS (
  SELECT d.doc_id, d.{text_col}, fp.fingerprint
  FROM {table} d
  JOIN rep USING (doc_id)
  JOIN q USING (doc_id)
  JOIN l USING (doc_id)
  JOIN fp USING (doc_id)
  WHERE q.quality >= {min_quality}
    AND rep.dup_line_frac <= {max_dup_line_frac}
    AND rep.top2gram_frac <= {max_top2gram_frac}
    AND l.lang_pred IN ({langs})
),
surv AS (
  SELECT doc_id, {text_col} FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY fingerprint) AS keeper
    FROM kept)
  WHERE doc_id = keeper
),
{pack_ctes}
{pack_final}
"""
