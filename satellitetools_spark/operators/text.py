"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure built-in column expressions (whole-stage codegen, no
Python in the hot path) with exact ANSI-SQL equivalents for oracle checks:
language ID (marker-word heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), md5 content fingerprinting, and winnowing
rolling-hash fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# BPE-ish pre-tokenization: letter runs, digit runs, single other non-space
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# marker words per language for the n-gram/stopword heuristic; the argmax
# tie-break is the list order below (first wins)
LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "que", "de"],
    "zh": ["de", "shi", "zai", "he"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on"]


def spread_scan(df: DataFrame) -> DataFrame:
    """Raise map-side parallelism for CPU-heavy per-document expression
    chains when the source yields fewer partitions than cores.

    The failure mode this fixes: a small hot table often lives in ONE
    parquet row group, and Spark cannot split inside a row group — so the
    scan is one task and every ms/row expression chain evaluated at the
    next materialization point runs serially. A round-robin
    ``repartition()`` moves PROJECTION evaluation above the exchange
    (projections are never pushed through it), which is the cheap fix for
    the explode/agg operators.

    Catalyst does push deterministic predicates back through the
    exchange onto the scan, so a pipeline that filters on heavy
    expressions should project the predicate as a column and filter it
    above a Window or exchange boundary (see plans/corpus.py).

    No-op when the source already spans >= defaultParallelism input
    files — the 100 TB case, where files number in the millions — so
    wide tables never pay the shuffle. The guard reads ``inputFiles()``
    (a listing on the analyzed plan), not ``df.rdd.getNumPartitions()``,
    which would force a full batch physical-planning pass on every call;
    file count understates task count for large splittable files, erring
    toward a harmless repartition of an already-parallel input.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file source (in-memory relation): spread it
        n_files = 0
    if n_files >= par:
        return df
    return df.repartition(par)


def _word_count(text: Column, word: str) -> Column:
    # count whole-word occurrences via split on padded text
    return F.size(F.split(F.concat(F.lit(" "), text, F.lit(" ")),
                          f" {word} ")) - 1


def _word_count_sql(text: str, word: str) -> str:
    return f"(len(str_split(' ' || {text} || ' ', ' {word} ')) - 1)"


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace token count, BPE-ish token count, char count, avg len."""
    t = F.col("text")
    # \S+ extraction, not trim+split: Spark trim() strips only 0x20 (a
    # tab/newline-only doc would count 2 tokens via split's empty edges)
    ws_tokens = F.size(F.regexp_extract_all(t, F.lit("\\S+"), 0))
    bpe_tokens = F.size(F.regexp_extract_all(t, F.lit(BPE_PATTERN), 0))
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        ws_tokens.alias("n_tokens"),
        bpe_tokens.alias("n_bpe_tokens"),
        F.round(F.length(F.regexp_replace(t, "\\s+", "")) /
                F.greatest(ws_tokens, F.lit(1)), 6).alias("avg_token_len"),
    )


def token_stats_sql(table: str = "documents", text_col: str = "text") -> str:
    t = text_col
    ws = f"len(regexp_extract_all({t}, '\\S+'))"
    return f"""
SELECT doc_id,
       length({t}) AS n_chars,
       {ws} AS n_tokens,
       len(regexp_extract_all({t}, '{BPE_PATTERN}')) AS n_bpe_tokens,
       ROUND(length(regexp_replace({t}, '\\s+', '', 'g'))
             / GREATEST({ws}, 1), 6) AS avg_token_len
FROM {table}
"""


def quality_exprs(t: Column) -> dict:
    """Named quality column expressions over a text column (shared by
    quality_score and the end-to-end training-data pipeline, which fuses
    them into one projection instead of joining per-operator outputs)."""
    n_chars = F.length(t)
    # \S+ extraction, not trim+split: Spark trim() strips only 0x20 (a
    # tab/newline-only doc would count 2 tokens via split's empty edges)
    ws_tokens = F.size(F.regexp_extract_all(t, F.lit("\\S+"), 0))
    punct = n_chars - F.length(F.regexp_replace(t, "[.,!?;:]", ""))
    stop = sum(_word_count(F.lower(t), w) for w in STOPWORDS)
    score = F.round(
        F.least(n_chars / F.lit(500.0), F.lit(1.0)) * 0.5
        + F.least(stop / F.greatest(ws_tokens, F.lit(1)) * 5.0, F.lit(1.0)) * 0.3
        + (1.0 - F.least(punct / F.greatest(n_chars, F.lit(1)) * 10.0, F.lit(1.0))) * 0.2,
        6)
    return {
        "n_chars": n_chars,
        "punct_ratio": F.round(punct / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.round(stop / F.greatest(ws_tokens, F.lit(1)), 6),
        "quality": score,
    }


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality: length, punctuation ratio, stopword ratio, and a
    composite score in [0, 1]."""
    ex = quality_exprs(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in ex.items()])


def quality_score_sql(table: str = "documents", text_col: str = "text") -> str:
    t = text_col
    ws = f"len(regexp_extract_all({t}, '\\S+'))"
    punct = f"(length({t}) - length(regexp_replace({t}, '[.,!?;:]', '', 'g')))"
    stop = " + ".join(_word_count_sql(f"lower({t})", w) for w in STOPWORDS)
    return f"""
SELECT doc_id,
       length({t}) AS n_chars,
       ROUND({punct} * 1.0 / GREATEST(length({t}), 1), 6) AS punct_ratio,
       ROUND(({stop}) * 1.0 / GREATEST({ws}, 1), 6) AS stopword_ratio,
       ROUND(LEAST(length({t}) / 500.0, 1.0) * 0.5
             + LEAST(({stop}) * 1.0 / GREATEST({ws}, 1) * 5.0, 1.0) * 0.3
             + (1.0 - LEAST({punct} * 1.0 / GREATEST(length({t}), 1) * 10.0, 1.0)) * 0.2,
             6) AS quality
FROM {table}
"""


def quality_quantiles(docs: DataFrame, accuracy: int = None) -> DataFrame:
    """Per-stratum calibration statistics of the composite quality score:
    count, mean, and exact interpolated quantiles (the numbers that pick a
    corpus-wide quality threshold per language/source).

    One hash aggregation (map-side partial). Exact ``percentile`` keeps a
    per-group value buffer — bounded here because quality is rounded to
    1e-6 so distinct values are capped, but for hot groups at 10^12 docs
    pass ``accuracy`` to switch to the mergeable ``percentile_approx``
    sketch (constant state per group), mirroring the timeseries operator's
    exact/approx split.
    """
    ex = quality_exprs(F.col("text"))
    scored = docs.select(F.col("lang").alias("grp"),
                         ex["quality"].alias("quality"))
    if accuracy is None:
        qcol = lambda p: F.expr(f"percentile(quality, {p!r})")  # noqa: E731
    else:
        qcol = lambda p: F.expr(  # noqa: E731
            f"percentile_approx(quality, {p!r}, {accuracy})")
    aggs = [F.count("*").alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("mean_quality")]
    aggs += [F.round(qcol(p), 6).alias(f"q{int(p * 100)}")
             for p in (0.25, 0.5, 0.75)]
    return scored.groupBy("grp").agg(*aggs)


def quality_quantiles_sql(table: str = "documents", group_col: str = "lang",
                          text_col: str = "text",
                          probs=(0.25, 0.5, 0.75)) -> str:
    t = text_col
    ws = f"len(regexp_extract_all({t}, '\\S+'))"
    punct = f"(length({t}) - length(regexp_replace({t}, '[.,!?;:]', '', 'g')))"
    stop = " + ".join(_word_count_sql(f"lower({t})", w) for w in STOPWORDS)
    quantiles = ",\n       ".join(
        f"ROUND(quantile_cont(quality, {p}), 6) AS q{int(p * 100)}"
        for p in probs)
    return f"""
WITH scored AS (
  SELECT {group_col} AS grp,
         ROUND(LEAST(length({t}) / 500.0, 1.0) * 0.5
               + LEAST(({stop}) * 1.0 / GREATEST({ws}, 1) * 5.0, 1.0) * 0.3
               + (1.0 - LEAST({punct} * 1.0 / GREATEST(length({t}), 1) * 10.0, 1.0)) * 0.2,
               6) AS quality
  FROM {table}
)
SELECT grp, count(*) AS n_docs,
       ROUND(avg(quality), 6) AS mean_quality,
       {quantiles}
FROM scored GROUP BY grp
"""


def lang_scores(t_lower: Column) -> Column:
    """Per-language marker scores as ONE array column (LANG_MARKERS
    order). Project this aliased so each score is computed once — the
    previous cascading when/otherwise argmax embedded every earlier
    score expression in every later branch (O(langs²) copies that
    per-operator subexpression elimination did not collapse; measured
    10x the cost of the raw score sums)."""
    return F.array(*[
        sum(_word_count(t_lower, w) for w in words).cast("int")
        for words in LANG_MARKERS.values()
    ])


def lang_exprs(scores: Column) -> dict:
    """(lang_pred, lang_score) from a ``lang_scores`` array column.
    ``array_position`` returns the FIRST index of the max — the same
    first-wins tie order as the marker-list order."""
    langs = F.array(*[F.lit(x) for x in LANG_MARKERS])
    best = F.array_max(scores)
    pred = F.element_at(langs, F.array_position(scores, best).cast("int"))
    return {"lang_pred": pred, "lang_score": best}


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language heuristic; argmax with fixed tie order."""
    base = docs.select(
        "doc_id", lang_scores(F.lower(F.col("text"))).alias("_sc"))
    ex = lang_exprs(F.col("_sc"))
    return base.select("doc_id", *[c.alias(n) for n, c in ex.items()])


def lang_id_sql(table: str = "documents", text_col: str = "text") -> str:
    t = f"lower({text_col})"
    score_exprs = {
        lang: "(" + " + ".join(_word_count_sql(t, w) for w in words) + ")"
        for lang, words in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    pred = f"'{langs[0]}'"
    best = score_exprs[langs[0]]
    for lang in langs[1:]:
        s = score_exprs[lang]
        pred = f"CASE WHEN {s} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN {s} > {best} THEN {s} ELSE {best} END"
    return f"""
SELECT doc_id, {pred} AS lang_pred, CAST({best} AS INT) AS lang_score
FROM {table}
"""


# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03) parameters: k-token
# shingles hashed with a Rabin-Karp polynomial rolling hash over the token
# stream, then the minimum of every w-wide hash window is kept. The hash is
# a plain (base, modulus) char/token fold so Spark codegen and the DuckDB
# oracle compute bit-identical values — no engine-specific hash functions.
WINNOW_K = 3
WINNOW_W = 4
_WB = 131          # polynomial base
_WM = 1_000_000_007  # modulus; (M*B + M) < 2^63 so the fold never overflows


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprints via winnowing over a token rolling hash.

    Pure built-in expressions (one codegen'd projection + explode): tokens
    are hashed once each (char fold), k-token shingle hashes are an O(1)
    polynomial combine per position, and each w-window keeps its minimum —
    the standard local-minima sampling that makes fingerprints robust to
    insertions/reordering, unlike the global `fingerprint` md5. Documents
    shorter than k+w-1 tokens emit no rows (k = ``WINNOW_K``,
    w = ``WINNOW_W``). Output: (doc_id, fp) pairs, distinct per document.
    """
    k, w = WINNOW_K, WINNOW_W
    toks = F.regexp_extract_all(F.lower(F.col("text")),
                                F.lit("[a-z0-9]+"), 0)
    # per-token char fold: h = (h*B + ascii(c)) % M
    th = F.transform(
        toks,
        lambda tok: F.aggregate(
            F.split(tok, ""),
            F.lit(0).cast("long"),
            lambda acc, c: (acc * _WB + F.coalesce(F.ascii(c), F.lit(0)))
            % _WM),
    )
    n = F.size(F.col("th"))
    # k-token shingle hashes: rolling polynomial combine over token hashes
    def shingle(i):
        h = F.element_at(F.col("th"), i + 1)
        for j in range(1, k):
            h = (h * _WB + F.element_at(F.col("th"), i + 1 + j)) % _WM
        return h

    hs = F.when(n >= k, F.transform(
        F.sequence(F.lit(0), n - k), shingle)).otherwise(
        F.array().cast("array<long>"))
    # winnow: minimum of each w-wide window, distinct
    fps = F.when(F.size(F.col("hs")) >= w, F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.size(F.col("hs")) - w),
        lambda i: F.array_min(F.slice(F.col("hs"), i + 1, w))))).otherwise(
        F.array().cast("array<long>"))
    return (docs
            .select("doc_id", th.alias("th"))
            .select("doc_id", hs.alias("hs"))
            .select("doc_id", F.explode(fps).alias("fp"))
            .distinct())


def winnow_fingerprints_sql(table: str = "documents",
                            text_col: str = "text",
                            k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    shingle = f"th[i]"
    for j in range(1, k):
        shingle = f"(({shingle}) * {_WB} + th[i+{j}]) % {_WM}"
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_transform(
           regexp_extract_all(lower({text_col}), '[a-z0-9]+'),
           tok -> list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, length(tok)),
                              j -> CAST(ascii(substr(tok, j, 1)) AS BIGINT))),
             (acc, c) -> (acc * {_WB} + c) % {_WM})) AS th
  FROM {table}
), sh AS (
  SELECT doc_id,
         CASE WHEN len(th) >= {k} THEN
           list_transform(generate_series(1, len(th) - {k - 1}),
                          i -> {shingle})
         ELSE [] END AS hs
  FROM tok
)
SELECT DISTINCT doc_id,
       unnest(list_transform(generate_series(1, len(hs) - {w - 1}),
                             i -> list_aggregate(hs[i:i+{w - 1}], 'min'))) AS fp
FROM sh
WHERE len(hs) >= {w}
"""


def doc_frequency(docs: DataFrame, min_df: int = 2) -> DataFrame:
    """Corpus document-frequency table: (token, df, idf).

    The corpus-statistics primitive behind stopword discovery, IDF
    weighting, and vocabulary pruning. One explode of DISTINCT per-doc
    tokens → hash-agg count (map-side partial keeps the shuffle at
    vocabulary cardinality, Zipfian ≪ token stream); the corpus size rides
    in via a broadcast one-row cross join, no driver action. Smooth IDF:
    ln((N+1)/(df+1)) + 1.
    """
    toks = F.regexp_extract_all(F.lower(F.col("text")),
                                F.lit("[a-z0-9]+"), 0)
    per_doc = docs.select("doc_id", F.explode(F.array_distinct(toks))
                          .alias("token"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (per_doc.groupBy("token").agg(F.count("*").alias("df"))
            .filter(F.col("df") >= min_df)
            .crossJoin(F.broadcast(n))
            .select("token", "df",
                    F.round(F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                            + 1.0, 6).alias("idf")))


def doc_frequency_sql(table: str = "documents", text_col: str = "text",
                      min_df: int = 2) -> str:
    return f"""
WITH per_doc AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS token
  FROM {table}
), df AS (
  SELECT token, count(*) AS df FROM per_doc GROUP BY token
)
SELECT token, df,
       ROUND(ln(((SELECT count(*) FROM {table}) + 1) / (df + 1.0)) + 1.0,
             6) AS idf
FROM df WHERE df >= {min_df}
"""


def tfidf_topk(docs: DataFrame, k: int = 5, min_df: int = 2) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    Term counts per doc (explode → hash-agg), broadcast-joined to the
    (vocabulary-sized) IDF table, ranked per doc by weight with a
    deterministic tie order (weight desc, token asc). The per-doc window
    partitions on doc_id — at any corpus size each partition is one
    document's vocabulary, so the sort never spills.

    Document frequency is derived FROM the tf aggregate (one row per
    distinct (doc, token) pair, so count-per-token == df) instead of
    re-exploding the corpus: both plan branches then share an identical
    (doc_id, token) shuffle, which Spark de-duplicates via ReusedExchange
    — the corpus is scanned and tokenized exactly once. Corpus size rides
    in from a column-pruned count(*) (no token columns read).
    """
    from pyspark.sql import Window
    toks = F.regexp_extract_all(F.lower(F.col("text")),
                                F.lit("[a-z0-9]+"), 0)
    tf = (docs.select("doc_id", F.explode(toks).alias("token"))
          .groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    n = docs.agg(F.count("*").alias("n_docs"))
    # the tf >= 1 predicate is a tautology (every emitted pair has tf >= 1)
    # but it keeps the tf column alive in this branch, so both branches
    # canonicalize to the SAME (doc_id, token) exchange and reuse fires
    idf = (tf.filter(F.col("tf") >= 1)
           .groupBy("token").agg(F.count("*").alias("df"))
           .filter(F.col("df") >= min_df)
           .crossJoin(F.broadcast(n))
           .select("token",
                   (F.round(F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                            + 1.0, 6)).alias("idf")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("weight"), F.asc("token"))
    return (tf.join(F.broadcast(idf), "token")
            .withColumn("weight", F.round(F.col("tf") * F.col("idf"), 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", "token", "weight", "rank"))


def tfidf_topk_sql(table: str = "documents", k: int = 5,
                   text_col: str = "text", min_df: int = 2) -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+'))
               AS token
        FROM {table})
  GROUP BY doc_id, token
), idf AS (
  SELECT token,
         ROUND(ln(((SELECT count(*) FROM {table}) + 1) / (count(*) + 1.0))
               + 1.0, 6) AS idf
  FROM (SELECT DISTINCT doc_id,
               unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+'))
               AS token
        FROM {table})
  GROUP BY token HAVING count(*) >= {min_df}
), ranked AS (
  SELECT doc_id, token, ROUND(tf * idf, 6) AS weight,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY ROUND(tf * idf, 6) DESC, token ASC)
         AS rank
  FROM tf JOIN idf USING (token)
)
SELECT doc_id, token, weight, rank FROM ranked WHERE rank <= {k}
"""


def fingerprint(docs: DataFrame) -> DataFrame:
    """Normalization + md5 content fingerprint (exact-dedup key)."""
    norm = F.lower(F.regexp_replace(F.col("text"), "\\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"),
                       F.length(F.col("text")).alias("n_chars"))


def fingerprint_sql(table: str = "documents", text_col: str = "text") -> str:
    return f"""
SELECT doc_id,
       md5(lower(regexp_replace({text_col}, '\\s+', ' ', 'g'))) AS fingerprint,
       length({text_col}) AS n_chars
FROM {table}
"""


# ---------------------------------------------------------------------------
# Gopher-style repetition statistics (Rae et al. 2021, appendix A1.1 —
# the standard pretraining-corpus repetition filters, as used by
# RefinedWeb / FineWeb / Dolma).
# ---------------------------------------------------------------------------

def _run_fold(sorted_arr: Column) -> Column:
    """Fold over a SORTED array computing duplicate statistics in one pass.

    Returns struct(rep, dupch, maxrun):
      rep    — number of elements beyond the first occurrence of their value
               (i.e. total - distinct)
      dupch  — total characters of all elements whose value occurs > 1 time
      maxrun — multiplicity of the most frequent value (0 for empty input)

    Equal values are adjacent after array_sort, so one O(n) scan with a
    (prev, run) accumulator replaces a groupBy — zero shuffle, pure
    whole-stage-codegen higher-order expression. When a run reaches length
    2 the first element's chars are added retroactively (length(prev) +
    length(x)); longer runs add only the new element.
    """
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).cast("long").alias("rep"),
        F.lit(0).cast("long").alias("dupch"),
        F.lit(0).alias("maxrun"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        added = F.when(
            same,
            F.when(acc["run"] == 1, F.length(acc["prev"]) + F.length(x))
            .otherwise(F.length(x)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            (acc["rep"] + F.when(same, 1).otherwise(0)).cast("long").alias("rep"),
            (acc["dupch"] + added).alias("dupch"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
        )

    return F.aggregate(sorted_arr, init, step)


def _ngrams(toks: Column, n: int) -> Column:
    """Word n-grams from a token array; short docs emit none (the
    sequence(0, size-n) descending-range guard — see dedup._shingles)."""
    idx = F.when(F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)) \
        .otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + k + 1) for k in range(n)]))


def repetition_stats(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """Per-document repetition filters: duplicate-line fraction,
    duplicate-line character fraction, and the token fraction covered by
    the most frequent word 2-gram / 3-gram.

    Lines are newline-split, empty lines dropped. dup_line_frac counts
    occurrences beyond the first of each distinct line over total lines;
    dup_line_char_frac is the character mass of lines occurring more than
    once over total line characters; topNgram_frac is (max n-gram
    multiplicity × n) / token count. All four are zero for degenerate
    inputs (no lines / fewer tokens than n).

    Everything is computed per row with sorted-array folds — no explode, no
    shuffle, O(k log k) per document — so the operator scales linearly with
    the corpus and survives any partitioning. Reference scope analog:
    corpus-hygiene filters sit upstream of the reference's scene filtering
    (satellitetools/aws.py:94-117 quality screening); this is the text-side
    equivalent for the interleaved-document table.

    ``keep`` names extra input columns carried through to the output (the
    training-data pipeline keeps the text so downstream stages fuse into
    the same scan instead of joining back).
    """
    keep = list(keep)
    t = F.col("text")
    # project the token array as its OWN column first — building grams over
    # the regexp_extract_all subexpression would re-tokenize the full text
    # for every array element (the O(len²) trap documented at
    # dedup._tokenized); a multi-referenced alias stays un-inlined
    toks = docs.select(
        "doc_id", *keep,
        F.array_sort(F.filter(F.split(t, "\n"), lambda x: x != F.lit("")))
        .alias("_lines"),
        F.regexp_extract_all(t, F.lit("\\S+"), 0).alias("_toks"),
    )
    base = toks.select(
        "doc_id", *keep,
        "_lines",
        F.array_sort(_ngrams(F.col("_toks"), 2)).alias("_g2"),
        F.array_sort(_ngrams(F.col("_toks"), 3)).alias("_g3"),
        F.size(F.col("_toks")).alias("_ntok"),
    )
    # materialize each fold ONCE (multi-referenced alias); extracting .rep
    # and .dupch from an inlined fold would run the O(n) scan twice
    folded = base.select(
        "doc_id", *keep, "_ntok",
        F.size(F.col("_lines")).alias("n_lines"),
        F.aggregate(F.col("_lines"), F.lit(0).cast("long"),
                    lambda a, x: a + F.length(x)).alias("_totch"),
        _run_fold(F.col("_lines")).alias("_lf"),
        _run_fold(F.col("_g2"))["maxrun"].alias("_m2"),
        _run_fold(F.col("_g3"))["maxrun"].alias("_m3"),
    )
    lf = F.col("_lf")
    n_lines = F.col("n_lines")
    ntok = F.col("_ntok")
    return folded.select(
        "doc_id", *keep,
        "n_lines",
        F.round(lf["rep"] / F.greatest(n_lines, F.lit(1)), 6)
        .alias("dup_line_frac"),
        F.round(lf["dupch"]
                / F.greatest(F.col("_totch"), F.lit(1).cast("long")), 6)
        .alias("dup_line_char_frac"),
        F.round(F.col("_m2") * 2 / F.greatest(ntok, F.lit(1)), 6)
        .alias("top2gram_frac"),
        F.round(F.col("_m3") * 3 / F.greatest(ntok, F.lit(1)), 6)
        .alias("top3gram_frac"),
    )


def repetition_stats_sql(table: str = "documents",
                         text_col: str = "text") -> str:
    """DuckDB oracle for repetition_stats (explode + GROUP BY formulation —
    same numbers, different physical shape)."""
    t = text_col

    def gram_cte(n: int, name: str) -> str:
        gram = " || ' ' || ".join(f"arr[pos+{k}]" for k in range(n))
        return f"""
{name} AS (
  SELECT doc_id, MAX(c) AS mx FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM (
      SELECT doc_id, {gram} AS g
      FROM (SELECT doc_id, arr,
                   unnest(generate_series(1, len(arr) - {n - 1})) AS pos
            FROM toks)
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
)"""

    return f"""
WITH lines AS (
  SELECT doc_id, unnest(list_filter(str_split({t}, chr(10)), x -> x <> '')) AS line
  FROM {table}
),
lc AS (
  SELECT doc_id, line, COUNT(*) AS c, length(line) AS len
  FROM lines GROUP BY doc_id, line
),
lagg AS (
  SELECT doc_id,
         SUM(c) AS n_lines,
         SUM(c - 1) AS rep,
         SUM(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS dupch,
         SUM(c * len) AS totch
  FROM lc GROUP BY doc_id
),
toks AS (SELECT doc_id, regexp_extract_all({t}, '\\S+') AS arr FROM {table}),
{gram_cte(2, "g2")},
{gram_cte(3, "g3")}
SELECT d.doc_id,
       CAST(COALESCE(l.n_lines, 0) AS INT) AS n_lines,
       ROUND(COALESCE(l.rep, 0) * 1.0
             / GREATEST(COALESCE(l.n_lines, 0), 1), 6) AS dup_line_frac,
       ROUND(COALESCE(l.dupch, 0) * 1.0
             / GREATEST(COALESCE(l.totch, 0), 1), 6) AS dup_line_char_frac,
       ROUND(COALESCE(g2.mx, 0) * 2.0
             / GREATEST(len(tk.arr), 1), 6) AS top2gram_frac,
       ROUND(COALESCE(g3.mx, 0) * 3.0
             / GREATEST(len(tk.arr), 1), 6) AS top3gram_frac
FROM {table} d
JOIN toks tk USING (doc_id)
LEFT JOIN lagg l USING (doc_id)
LEFT JOIN g2 USING (doc_id)
LEFT JOIN g3 USING (doc_id)
"""


# ---------------------------------------------------------------------------
# PII redaction. Patterns are chosen to parse identically in Java regex
# (Spark codegen) and RE2 (DuckDB oracle): character classes, bounded
# repetition, \b and non-capturing groups only — no backrefs/lookaround.
# Replacement order is fixed (email -> ipv4 -> long digit run) so the
# output is deterministic even where patterns could overlap.
# ---------------------------------------------------------------------------

PII_PATTERNS = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("number", "[0-9]{7,}", "<NUM>"),
)


def redact_pii(docs: DataFrame) -> DataFrame:
    """Scrub emails / IPv4 addresses / long digit runs, reporting per-kind
    match counts. Pure regexp_replace/regexp_extract_all codegen — no
    Python, no shuffle; at 100 TB this is a map-only pass that fuses into
    whatever scan precedes it."""
    t = F.col("text")
    counts = [F.size(F.regexp_extract_all(t, F.lit(pat), 0))
              .alias(f"n_{name}") for name, pat, _ in PII_PATTERNS]
    red = t
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return docs.select("doc_id", *counts, red.alias("redacted"))


def redact_pii_sql(table: str = "documents", text_col: str = "text") -> str:
    counts = ",\n       ".join(
        f"len(regexp_extract_all({text_col}, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS)
    red = text_col
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
SELECT doc_id,
       {counts},
       {red} AS redacted
FROM {table}
"""


def profile(df: DataFrame, exact: bool = True) -> DataFrame:
    """One-pass table profiler: per column, row/non-null/distinct counts,
    min/max, and (numerics) the mean — the data-quality summary sheet an
    ingest pipeline emits per partition drop.

    Shape: ONE global aggregation computing every column's metrics in a
    single reduce (map-side partial combine; no per-column scans), then a
    constant-width struct explode unpivots the single result row to one
    row per column. With ``exact=True`` the multi-column DISTINCTs plan
    as one Expand pass (rows × profiled columns before combine) — right
    for the oracle gate; at 100 TB use ``exact=False``, which swaps in
    ``approx_count_distinct`` (HLL, no Expand, pure partial-aggregate)
    at ~2% relative error.

    ``min_s``/``max_s`` are the extreme VALUES cast to string after
    aggregation (numeric order for numerics, binary collation for
    strings — identical in the DuckDB oracle, which also compares
    strings bytewise by default).
    """
    from pyspark.sql.types import NumericType
    cols = df.columns
    types = dict(df.dtypes)
    numeric = {f.name for f in df.schema.fields
               if isinstance(f.dataType, NumericType)}
    nd = (F.countDistinct if exact
          else lambda c: F.approx_count_distinct(c))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [F.count(c).alias(f"_nn_{c}"),
                 nd(c).alias(f"_nd_{c}"),
                 F.min(c).cast("string").alias(f"_mn_{c}"),
                 F.max(c).cast("string").alias(f"_mx_{c}")]
        if c in numeric:
            aggs.append(F.avg(c).alias(f"_mean_{c}"))
    row = df.agg(*aggs)
    structs = [F.struct(
        F.lit(c).alias("column"),
        F.lit(types[c]).alias("dtype"),
        F.col("_n").alias("n_rows"),
        F.col(f"_nn_{c}").alias("n_nonnull"),
        F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
        F.col(f"_mn_{c}").alias("min_s"),
        F.col(f"_mx_{c}").alias("max_s"),
        (F.col(f"_mean_{c}") if c in numeric
         else F.lit(None).cast("double")).alias("mean_num"),
    ) for c in cols]
    return (row.select(F.explode(F.array(*structs)).alias("p"))
               .select("p.*"))


def profile_sql(table: str = "documents", columns=(),
                numeric=(), dtypes=None) -> str:
    """DuckDB oracle: one aggregate per column, UNION ALL — the unfused
    equivalent of the single-pass profile."""
    dtypes = dtypes or {}
    parts = []
    for c in columns:
        mean = (f"AVG({c})" if c in numeric else "CAST(NULL AS DOUBLE)")
        parts.append(f"""
SELECT '{c}' AS "column", '{dtypes.get(c, '')}' AS dtype,
       COUNT(*) AS n_rows, COUNT({c}) AS n_nonnull,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_s,
       CAST(MAX({c}) AS VARCHAR) AS max_s,
       {mean} AS mean_num
FROM {table}""")
    return "\nUNION ALL\n".join(parts)


def char_ngram_lm_scores(docs: DataFrame) -> DataFrame:
    """Char-trigram language-model quality score (the CCNet/KenLM-style
    filter, self-trained): fit add-1-smoothed conditional counts
    ``P(c_3 | c_1 c_2)`` over a 96-symbol vocabulary on the corpus
    itself, then score each document by mean log-probability and
    perplexity. Low-perplexity ≈
    fluent/common text; high ≈ garbage, boilerplate, or wrong-alphabet —
    the standard pretraining quality signal when no external LM is
    available.

    Shape: ONE n-gram explode pass builds the model (map-side combine →
    shuffle at n-gram-type cardinality, bounded by alphabet^n, NOT corpus
    size; context counts derive from the n-gram counts by prefix — no
    second extraction). Scoring re-explodes documents and hash-joins the
    two count tables — both model tables are broadcast-sized by the same
    alphabet bound at any corpus size. Extraction uses a ``transform``
    over ``sequence`` (interpreted HOF — measured ~1.8x slower than
    codegen splits, but overlapping windows have no split form; the
    explode dominates either way).

    Every scored n-gram exists in the model by construction (trained on
    the same corpus), so the joins are inner with no smoothing-only path;
    the add-1 smoothing still applies to the denominators exactly as a
    held-out scorer would. Docs shorter than 3 chars emit NULL score and
    ``n_ngrams = 0``.
    """
    t = F.col("text")
    grams_expr = F.when(
        F.length(t) >= 3,
        F.transform(F.sequence(F.lit(1), F.length(t) - 2),
                    lambda i: F.substring(t, i, 3))
    ).otherwise(F.array().cast("array<string>"))

    toks = docs.select("doc_id", F.explode(grams_expr).alias("g"))
    tri = toks.groupBy("g").agg(F.count("*").alias("c_g"))
    ctx = (tri.groupBy(F.substring("g", 1, 2).alias("p"))
              .agg(F.sum("c_g").alias("c_p")))

    scored = (toks
              .join(F.broadcast(tri), "g")
              .withColumn("p", F.substring("g", 1, 2))
              .join(F.broadcast(ctx), "p")
              .withColumn("_lp", F.log((F.col("c_g") + F.lit(1.0)) /
                                       (F.col("c_p") + F.lit(96.0)))))
    per_doc = (scored.groupBy("doc_id")
               .agg(F.count("*").alias("n_ngrams"),
                    F.avg("_lp").alias("avg_logp")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
                    "avg_logp",
                    F.exp(-F.col("avg_logp")).alias("ppl")))


def char_ngram_lm_scores_sql(table: str = "documents",
                             text_col: str = "text", n: int = 3,
                             k: float = 1.0, vocab: float = 96.0) -> str:
    """DuckDB oracle: identical counts/smoothing/score over a range-join
    n-gram extraction."""
    t = text_col
    return f"""
WITH toks AS (
  SELECT doc_id, substr({t}, CAST(r.i AS INT), {n}) AS g
  FROM {table},
       LATERAL unnest(generate_series(1, length({t}) - {n - 1})) AS r(i)
  WHERE length({t}) >= {n}
),
tri AS (SELECT g, COUNT(*) AS c_g FROM toks GROUP BY g),
ctx AS (SELECT substr(g, 1, {n - 1}) AS p, SUM(c_g) AS c_p
        FROM tri GROUP BY 1),
per_doc AS (
  SELECT toks.doc_id, COUNT(*) AS n_ngrams,
         AVG(ln((c_g + {float(k)!r}) / (c_p + {float(k * vocab)!r})))
           AS avg_logp
  FROM toks
  JOIN tri USING (g)
  JOIN ctx ON ctx.p = substr(toks.g, 1, {n - 1})
  GROUP BY toks.doc_id
)
SELECT d.doc_id, COALESCE(n_ngrams, 0) AS n_ngrams, avg_logp,
       exp(-avg_logp) AS ppl
FROM {table} d LEFT JOIN per_doc USING (doc_id)
"""


def bm25_topk(docs: DataFrame, query_terms: Sequence[str], k: int = 10) -> DataFrame:
    """Okapi BM25 retrieval: the top-k documents for a bag-of-terms
    query — the standard lexical ranking function (and the usual sparse
    half of hybrid dense+sparse retrieval next to the embedding ANN
    operators).

    Per query term: Robertson idf ``ln(1 + (N − df + 0.5)/(df + 0.5))``
    from the corpus; per (doc, term): saturated tf
    ``tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))``, k1 = 1.2, b = 0.75.
    One tokenize pass feeds BOTH the per-doc term counts (filtered to the
    query's terms — a broadcast literal `isin`, so the shuffle carries
    only matching pairs) and the per-doc lengths; df for the query terms comes from
    the same filtered aggregate, N/avgdl ride in as a broadcast one-row
    table. Ranking is a global top-k over scored docs —
    TakeOrderedAndProject, no full sort. Documents matching no query
    term score 0 and are not returned.
    """
    terms = sorted(set(query_terms))
    toks = F.regexp_extract_all(F.lower(F.col("text")),
                                F.lit("[a-z0-9]+"), 0)
    base = docs.select("doc_id", toks.alias("_toks"))
    dl = base.select("doc_id", F.size("_toks").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    tf = (base.select("doc_id", F.explode("_toks").alias("token"))
              .filter(F.col("token").isin(terms))
              .groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(df_t), "token")
                .join(dl, "doc_id")
                .crossJoin(F.broadcast(stats)))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    k1, b = 1.2, 0.75
    sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    per_term = scored.withColumn("_s", idf * sat)
    out = (per_term.groupBy("doc_id")
                   .agg(F.round(F.sum("_s"), 6).alias("bm25"),
                        F.count("*").alias("n_terms_hit")))
    return (out.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
               .select("doc_id", "bm25", "n_terms_hit"))


def bm25_topk_sql(table: str = "documents",
                  query_terms: Sequence[str] = (), k: int = 10,
                  k1: float = 1.2, b: float = 0.75,
                  text_col: str = "text") -> str:
    """DuckDB oracle: identical tokenize/df/saturation/ranking."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(query_terms)))
    return f"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower({text_col}), '[a-z0-9]+') AS toks
  FROM {table}
),
dl AS (SELECT doc_id, len(toks) AS dl FROM base),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS token FROM base)
  WHERE token IN ({terms})
  GROUP BY doc_id, token
),
df_t AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
per_term AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         * (tf.tf * ({k1!r} + 1.0))
           / (tf.tf + {k1!r} * (1.0 - {b!r} + {b!r} * dl.dl / s.avgdl))
           AS s_term
  FROM tf JOIN df_t d USING (token)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT doc_id, ROUND(SUM(s_term), 6) AS bm25,
         COUNT(*) AS n_terms_hit
  FROM per_term GROUP BY doc_id
)
SELECT doc_id, bm25, n_terms_hit
FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT {k}
"""


def pmi_bigrams(docs: DataFrame, k: int = 50) -> DataFrame:
    """Top-k adjacent-token bigrams by pointwise mutual information —
    the phrase-mining primitive (word2phrase-style collocation
    detection) for tokenizer/vocab construction over a training corpus.

    PMI = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) = c_ab / N_bigrams and
    p(w) = c_w / N_tokens. Bigrams are formed inside one projection —
    ``zip_with`` over the token array against its shift — so there is no
    token-cardinality self-join; the only shuffles are the two hash aggs
    at bigram- and unigram-vocabulary cardinality (both map-side
    combined, Zipf ≪ stream). The ``c_ab ≥ 5`` filter lands BEFORE the
    unigram joins, so the join input is the surviving-bigram set, and
    the unigram count table is vocabulary-cardinality — broadcast-able
    at any corpus size. Final top-k ranks on ROUND(pmi, 6) with a
    (w1, w2) tie-break so the cut is engine-portable.
    """
    toks = F.regexp_extract_all(F.lower(F.col("text")),
                                F.lit("[a-z0-9]+"), 0)
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(F.slice(toks, 1, n1), F.slice(toks, 2, n1),
                         lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    bi_rows = docs.select(F.explode(bigrams).alias("bg")) \
                  .select("bg.w1", "bg.w2")
    uni_rows = docs.select(F.explode(toks).alias("w"))
    n_bi = bi_rows.agg(F.count("*").alias("n_bi"))
    n_uni = uni_rows.agg(F.count("*").alias("n_uni"))
    c_bi = (bi_rows.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
            .filter(F.col("c_ab") >= 5))
    c_uni = uni_rows.groupBy("w").agg(F.count("*").alias("c_w"))
    scored = (c_bi
              .join(F.broadcast(c_uni.select(F.col("w").alias("w1"),
                                             F.col("c_w").alias("c_a"))),
                    "w1")
              .join(F.broadcast(c_uni.select(F.col("w").alias("w2"),
                                             F.col("c_w").alias("c_b"))),
                    "w2")
              .crossJoin(F.broadcast(n_bi))
              .crossJoin(F.broadcast(n_uni))
              .select("w1", "w2", "c_ab",
                      F.round(F.log((F.col("c_ab") / F.col("n_bi"))
                                    / ((F.col("c_a") / F.col("n_uni"))
                                       * (F.col("c_b") / F.col("n_uni")))),
                              6).alias("pmi")))
    from pyspark.sql import Window
    # cut FIRST (TakeOrderedAndProject: per-partition heaps, no global
    # sort), then number the k survivors — the single-partition
    # row_number window only ever sees k rows
    top = scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(k)
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "w1", "w2", "c_ab", "pmi"))


def pmi_bigrams_sql(table: str = "documents", min_count: int = 5,
                    k: int = 50, text_col: str = "text") -> str:
    """DuckDB oracle: identical counting, PMI formula, and ranked cut."""
    return f"""
WITH ptoks AS (
  SELECT regexp_extract_all(lower({text_col}), '[a-z0-9]+') AS ts
  FROM {table}
),
puni AS (SELECT unnest(ts) AS w FROM ptoks),
pbi AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2
  FROM ptoks, unnest(generate_series(1, len(ts) - 1)) u(i)
),
c_uni AS (SELECT w, COUNT(*) AS c_w FROM puni GROUP BY w),
c_bi AS (
  SELECT w1, w2, COUNT(*) AS c_ab FROM pbi GROUP BY w1, w2
  HAVING COUNT(*) >= {min_count}
),
tots AS (SELECT (SELECT COUNT(*) FROM pbi) AS n_bi,
                (SELECT COUNT(*) FROM puni) AS n_uni),
pscored AS (
  SELECT b.w1, b.w2, b.c_ab,
         ROUND(ln((b.c_ab * 1.0 / t.n_bi)
                  / ((ca.c_w * 1.0 / t.n_uni)
                     * (cb.c_w * 1.0 / t.n_uni))), 6) AS pmi
  FROM c_bi b
  JOIN c_uni ca ON ca.w = b.w1
  JOIN c_uni cb ON cb.w = b.w2
  CROSS JOIN tots t
)
SELECT ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rank,
       w1, w2, c_ab, pmi
FROM pscored
ORDER BY rank LIMIT {k}
"""


def chunk_lines(docs: DataFrame) -> DataFrame:
    """Deterministic re-chunking of documents into fixed 10-token lines
    ``(doc_id, pos, line)`` — the unit stream for :func:`line_dedup` on
    corpora without natural line structure. One projection + one
    explode; no shuffle."""
    ws = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(ws) / F.lit(10.0)).cast("int")
    return (docs
            .select("doc_id", ws.alias("ws"),
                    F.explode(F.sequence(F.lit(1), F.greatest(
                        n_chunks, F.lit(1)))).alias("pos"))
            .select("doc_id", "pos",
                    F.array_join(F.slice(
                        F.col("ws"),
                        (F.col("pos") - 1) * 10 + 1, 10), " ").alias("line")))


def line_dedup(lines: DataFrame) -> DataFrame:
    """CCNet-style cross-corpus boilerplate removal: drop every line
    that occurs in more than one DISTINCT document (headers,
    navigation, license blocks — the dominant noise in web
    corpora), then reassemble each document in original line order.

    Shape: the frequency agg keys on ``md5(line)`` so the shuffle
    carries 32-byte digests, not line text, at distinct-line
    cardinality (map-side combined). Removal is a hash-equi LEFT join
    of the line stream against that count table (Catalyst broadcasts it
    when it fits; co-partitions otherwise), and reassembly is one
    per-document ``collect_list`` + ``array_sort`` — state bounded by
    document size, the same bound the input row already occupies.
    Empty lines are never counted and never removed.
    """
    keyed = lines.withColumn("lh", F.md5(F.col("line")))
    counts = (keyed.filter(F.col("line") != "")
              .groupBy("lh")
              .agg(F.countDistinct("doc_id").alias("n_docs")))
    kept_flag = (F.col("line") == "") | \
        (F.coalesce(F.col("n_docs"), F.lit(0)) <= 1)
    flagged = keyed.join(counts, "lh", "left").withColumn("keep", kept_flag)
    return (flagged.groupBy("doc_id")
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("keep"),
                                    F.struct("pos", "line")))),
                         lambda s: s["line"]), " ").alias("clean_text"),
                 F.sum(F.when(F.col("keep"), 1).otherwise(0))
                 .alias("n_kept"),
                 F.sum(F.when(~F.col("keep"), 1).otherwise(0))
                 .alias("n_removed")))


def line_dedup_sql(table: str = "documents", words_per_line: int = 10,
                   max_occurrences: int = 1, text_col: str = "text") -> str:
    """DuckDB oracle: identical re-chunk, count, drop, and reassembly."""
    w = words_per_line
    return f"""
WITH ldocs AS (SELECT doc_id, str_split({text_col}, ' ') AS ws FROM {table}),
llines AS (
  SELECT doc_id, i AS pos,
         array_to_string(ws[(i - 1) * {w} + 1:i * {w}], ' ') AS line
  FROM ldocs, unnest(generate_series(1,
       GREATEST(CAST(ceil(len(ws) / {float(w)!r}) AS BIGINT), 1))) u(i)
),
lcounts AS (
  SELECT md5(line) AS lh, COUNT(DISTINCT doc_id) AS n_docs
  FROM llines WHERE line <> '' GROUP BY 1
),
lflag AS (
  SELECT l.doc_id, l.pos, l.line,
         (l.line = '' OR COALESCE(c.n_docs, 0) <= {max_occurrences})
           AS keep
  FROM llines l LEFT JOIN lcounts c ON c.lh = md5(l.line)
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN keep THEN line END, ' '
                           ORDER BY pos), '') AS clean_text,
       COUNT(CASE WHEN keep THEN 1 END) AS n_kept,
       COUNT(CASE WHEN NOT keep THEN 1 END) AS n_removed
FROM lflag GROUP BY doc_id
"""


def quality_percentiles(docs: DataFrame) -> DataFrame:
    """Per-document quality percentile WITHIN its group (language/
    source): `percent_rank` over the composite quality score with a
    doc_id tie-break removed — ties share a rank, as calibration
    requires. This is the per-document companion of
    :func:`quality_quantiles` (which yields per-group cut points): a
    corpus curator filters on "top X% within each language" without
    computing thresholds first.

    One window per group partition — a per-group sort at group
    cardinality. At 10^12 docs prefer the two-pass form (bucketed ECDF
    via :func:`satellitetools_spark.operators.checks.histogram` + a
    broadcast join of cumulative bucket mass); this exact form is for
    calibration-grade output where rank ties must be exact.
    """
    from pyspark.sql import Window
    ex = quality_exprs(F.col("text"))
    scored = docs.select("doc_id", F.col("lang").alias("grp"),
                         ex["quality"].alias("quality"))
    w = Window.partitionBy("grp").orderBy(F.col("quality").asc())
    return (scored
            .select("doc_id", F.col("grp").alias("lang"), "quality",
                    F.round(F.percent_rank().over(w), 6)
                    .alias("quality_pctile")))


def quality_percentiles_sql(table: str = "documents",
                            group_col: str = "lang",
                            text_col: str = "text") -> str:
    """DuckDB oracle: identical window over the identical score."""
    return f"""
WITH qs AS ({quality_score_sql(table, text_col)})
SELECT doc_id, {group_col}, quality,
       ROUND(PERCENT_RANK() OVER (PARTITION BY {group_col}
                                  ORDER BY quality ASC), 6)
         AS quality_pctile
FROM qs JOIN (SELECT doc_id AS did, {group_col} FROM {table}) g
  ON g.did = qs.doc_id
"""


def _del_at(t, i):
    """Column expr: ``t`` with the i-th (1-based) char deleted."""
    return F.concat(t.substr(F.lit(1), i - 1),
                    t.substr(i + 1, F.length(t) - i))


def fuzzy_token_pairs(docs: DataFrame, max_dist: int = 2) -> DataFrame:
    """Typo/variant pair mining: all DISTINCT-token pairs within
    Levenshtein distance ``max_dist`` (≤ 2) — the blocking step of
    record linkage and spelling normalization, without a cross join.

    Candidate generation is the symmetric-delete scheme (SymSpell): each
    token emits every variant reachable by up to ``max_dist`` character
    DELETIONS (1 + L + L(L-1)/2 keys at d=2 — bounded by token length,
    and the input is the DISTINCT vocabulary, Zipf-bounded ≪ corpus);
    two tokens within distance d always share a deletion variant
    (delete the edited positions from each side), so the equi-join on
    the variant key is a COMPLETE candidate set. Exact
    ``levenshtein()`` then verifies — JVM codegen, only on candidates.
    Shape: explode at vocab × L²/2, one equi-join, one distinct, zero
    Python, no cross product at any vocabulary size.
    """
    if max_dist not in (1, 2):
        raise ValueError("fuzzy_token_pairs: max_dist must be 1 or 2")
    toks = (docs.select(F.explode(F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0))
            .alias("t")).distinct())
    t = F.col("t")
    d1 = F.transform(F.sequence(F.lit(1), F.length(t)),
                     lambda i: _del_at(t, i))
    keys = F.array(t)
    keys = F.concat(keys, d1)
    if max_dist == 2:
        d2 = F.flatten(F.transform(d1, lambda s: F.filter(
            F.transform(F.sequence(F.lit(1), F.greatest(F.length(s),
                                                        F.lit(1))),
                        lambda i: F.when(i <= F.length(s),
                                         _del_at(s, i))),
            lambda x: x.isNotNull())))
        keys = F.concat(keys, d2)
    keyed = toks.select("t", F.explode(F.array_distinct(keys)).alias("k"))
    a = keyed.select(F.col("k"), F.col("t").alias("token_a"))
    b = keyed.select(F.col("k"), F.col("t").alias("token_b"))
    cand = (a.join(b, "k")
            .filter(F.col("token_a") < F.col("token_b"))
            .select("token_a", "token_b").distinct())
    dist = F.levenshtein("token_a", "token_b")
    return (cand.filter(dist <= max_dist)
            .select("token_a", "token_b", dist.alias("dist")))


def fuzzy_token_pairs_sql(table: str = "documents", max_dist: int = 2,
                          text_col: str = "text") -> str:
    """DuckDB oracle: brute-force vocabulary cross join — an
    INDEPENDENT algorithm, which also pins the blocking's completeness."""
    return f"""
WITH ftoks AS (
  SELECT DISTINCT
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS t
  FROM {table}
)
SELECT a.t AS token_a, b.t AS token_b, levenshtein(a.t, b.t) AS dist
FROM ftoks a JOIN ftoks b ON a.t < b.t
WHERE levenshtein(a.t, b.t) <= {max_dist}
"""


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document character-distribution entropy (bits) — the CCNet-
    style gibberish/boilerplate signal: natural text sits in a
    band (~3.5-4.5 bits for English), base64 blobs and repeated
    padding fall far outside it.

    Shape: one char explode → hash agg on (doc, char) — map-side
    combine bounds the shuffle at doc × alphabet, not doc × length —
    then a per-doc entropy fold. The log2 sum is grouped per doc, so
    the second agg is doc-cardinality. Empty docs yield entropy 0.
    """
    chars = (docs.select("doc_id",
                         F.explode(F.split(F.col("text"), "")).alias("c"))
             .filter(F.col("c") != ""))
    counts = chars.groupBy("doc_id", "c").agg(F.count("*").alias("n"))
    tot = counts.groupBy("doc_id").agg(F.sum("n").alias("len"))
    ent = (counts.join(tot, "doc_id")
           .groupBy("doc_id")
           .agg(F.round(-F.sum((F.col("n") / F.col("len"))
                               * F.log2(F.col("n") / F.col("len"))), 6)
                .alias("char_entropy"),
                F.max("len").alias("n_chars")))
    return (docs.select("doc_id")
            .join(ent, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("char_entropy", F.lit(0.0))
                    .alias("char_entropy"),
                    F.coalesce("n_chars", F.lit(0)).alias("n_chars")))


def char_entropy_sql(table: str = "documents",
                     text_col: str = "text") -> str:
    """DuckDB oracle: identical counts and fold."""
    return f"""
WITH echars AS (
  SELECT doc_id, unnest(str_split({text_col}, '')) AS c FROM {table}
),
ecounts AS (SELECT doc_id, c, COUNT(*) AS n FROM echars
            WHERE c <> '' GROUP BY doc_id, c),
etot AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS len
         FROM ecounts GROUP BY doc_id),
eent AS (
  SELECT c2.doc_id,
         ROUND(-SUM((n * 1.0 / len) * log2(n * 1.0 / len)), 6)
           AS char_entropy,
         MAX(len) AS n_chars
  FROM ecounts c2 JOIN etot USING (doc_id) GROUP BY c2.doc_id
)
SELECT d.doc_id, COALESCE(eent.char_entropy, 0.0) AS char_entropy,
       COALESCE(eent.n_chars, 0) AS n_chars
FROM {table} d LEFT JOIN eent ON eent.doc_id = d.doc_id
"""


def bpe_merges(docs: DataFrame, n_merges: int = 5) -> DataFrame:
    """Byte-pair-encoding merge training — the real tokenizer-training
    loop (Sennrich et al.) as unrolled relational algebra: start from
    per-token character sequences weighted by token frequency; each
    iteration counts adjacent symbol pairs, picks the most frequent
    (count DESC, then lexicographic — deterministic), and applies the
    merge greedily left-to-right via an ``aggregate`` fold. Returns the
    learned merge table ``(rank, p1, p2, pair, cnt)``.

    Fully declarative: the iteration's winning pair is NEVER collected
    to the driver — it rides into the next iteration as a one-row
    broadcast cross join that the fold lambda references, so the whole
    n-merge training is one lazy plan. Per iteration: a pair-count
    hash agg at symbol-bigram cardinality (weighted by token freq — the
    pair stream is the DISTINCT vocabulary, Zipf ≪ corpus) + a 1-row
    TakeOrderedAndProject + a map-side fold. The greedy left-to-right
    application (a fresh merge cannot chain into the next overlap)
    matches the reference BPE semantics via the fold's accumulator:
    the merged symbol becomes the accumulator tail, which no longer
    equals p1's raw form unless genuinely re-mergeable.
    """
    toks = (docs.select(F.explode(F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0))
                .alias("token"))
            .groupBy("token").agg(F.count("*").alias("freq")))
    seq = toks.select("freq", F.split("token", "").alias("seq"))
    merges, _ = _bpe_unroll(seq, n_merges)
    return merges


def _bpe_unroll(seq: DataFrame, n_merges: int):
    """The shared BPE training unroll: ``seq`` carries a ``freq`` weight,
    a ``seq`` symbol array, and any passenger columns (e.g. ``token`` for
    :func:`bpe_encode`). Returns ``(merge_table, final_seq)`` — one lazy
    plan, winners broadcast into the next fold, never a driver collect."""
    carry = [c for c in seq.columns if c != "seq"]
    merges = None
    for rank in range(1, n_merges + 1):
        n1 = F.greatest(F.size("seq") - 1, F.lit(0))
        bigrams = F.zip_with(F.slice("seq", 1, n1), F.slice("seq", 2, n1),
                             lambda a, b: F.struct(a.alias("a"),
                                                   b.alias("b")))
        pairs = (seq.select("freq", F.explode(bigrams).alias("bg"))
                 .groupBy(F.col("bg.a").alias("a"),
                          F.col("bg.b").alias("b"))
                 .agg(F.sum("freq").alias("cnt")))
        top = (pairs.orderBy(F.col("cnt").desc(), "a", "b").limit(1)
               .select("a", "b", "cnt"))
        row = top.select(F.lit(rank).alias("rank"), F.col("a").alias("p1"),
                         F.col("b").alias("p2"),
                         F.concat("a", "b").alias("pair"), "cnt")
        merges = row if merges is None else merges.unionByName(row)

        def fold(acc, x):
            merged = F.concat(F.element_at(acc, -1), x)
            hit = ((F.size(acc) > 0)
                   & (F.element_at(acc, -1) == F.col("a"))
                   & (x == F.col("b")))
            return F.when(
                hit,
                F.concat(F.slice(acc, 1,
                                 F.greatest(F.size(acc) - 1, F.lit(0))),
                         F.array(merged))
            ).otherwise(F.concat(acc, F.array(x)))

        seq = (seq.crossJoin(F.broadcast(top))
               .select(*carry,
                       F.aggregate("seq",
                                   F.array().cast("array<string>"),
                                   fold).alias("seq")))
    return merges, seq


def bpe_encode(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Tokenizer APPLICATION: train ``n_merges`` BPE merges on the corpus
    (the :func:`bpe_merges` loop) and encode every document with them, in
    one lazy plan. Returns per document ``(doc_id, n_tokens, n_symbols,
    compression)`` — whitespace-word count, post-merge symbol count, and
    chars-per-symbol compression ratio, the numbers a pretraining-budget
    planner actually needs from a tokenizer sweep.

    Scale shape: the merge loop runs at DISTINCT-VOCABULARY cardinality
    (Zipf ≪ corpus; the corpus is touched once for the (doc, token)
    counts), the trained symbol lengths broadcast back onto the per-doc
    token counts, and one doc-cardinality agg folds the totals — the
    corpus is never re-tokenized per merge.
    """
    toks_arr = F.regexp_extract_all(F.lower(F.col("text")),
                                    F.lit("[a-z0-9]+"), 0)
    per_doc = (docs.select("doc_id", F.explode(toks_arr).alias("token"))
               .groupBy("doc_id", "token")
               .agg(F.count("*").alias("cnt")))
    vocab = per_doc.groupBy("token").agg(F.sum("cnt").alias("freq"))
    seq0 = vocab.select("token", "freq", F.split("token", "").alias("seq"))
    _, fin = _bpe_unroll(seq0, n_merges)
    sym = fin.select("token", F.size("seq").alias("n_sym"))
    enc = per_doc.join(F.broadcast(sym), "token")
    agg = (enc.groupBy("doc_id")
           .agg(F.sum("cnt").alias("n_tokens"),
                F.sum(F.col("cnt") * F.col("n_sym")).alias("n_symbols"),
                F.round(F.sum(F.col("cnt") * F.length("token"))
                        / F.sum(F.col("cnt") * F.col("n_sym")), 6)
                .alias("compression")))
    return (docs.select("doc_id").join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("n_symbols", F.lit(0)).alias("n_symbols"),
                    "compression"))


def bpe_merges_sql(table: str = "documents", n_merges: int = 5,
                   text_col: str = "text") -> str:
    """DuckDB oracle: the identical unrolled training loop — the fold
    runs over a list-of-lists (DuckDB's list_reduce seeds from the
    first element, so wrapping each symbol keeps accumulator and
    element types uniform) with the iteration's top pair cross-joined
    into lambda scope exactly like the engine's broadcast."""
    layers = [f"""
bt AS (
  SELECT token, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+'))
      AS token FROM {table}) GROUP BY token
),
bs0 AS (SELECT freq, str_split(token, '') AS seq FROM bt)"""]
    tops = []
    for i in range(1, n_merges + 1):
        prev = f"bs{i - 1}"
        layers.append(f"""
bp{i} AS (
  SELECT seq[j] AS a, seq[j + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM {prev}, unnest(generate_series(1, len(seq) - 1)) u(j)
  GROUP BY 1, 2
),
btop{i} AS (SELECT a, b, cnt FROM bp{i}
            ORDER BY cnt DESC, a, b LIMIT 1),
bs{i} AS (
  SELECT freq,
         list_reduce(list_transform(seq, x -> [x]),
                     (acc, x) -> CASE
                       WHEN len(acc) > 0 AND acc[-1] = t.a AND x[1] = t.b
                       THEN acc[1:len(acc) - 1] || [acc[-1] || x[1]]
                       ELSE acc || x END) AS seq
  FROM {prev} CROSS JOIN btop{i} t
)""")
        tops.append(f"SELECT {i} AS rank, a AS p1, b AS p2,"
                    f" a || b AS pair, cnt FROM btop{i}")
    return ("WITH " + ",".join(layers) + "\n"
            + " UNION ALL ".join(tops))


def bpe_encode_sql(table: str = "documents", n_merges: int = 8,
                   text_col: str = "text") -> str:
    """DuckDB oracle for :func:`bpe_encode`: the identical unrolled
    training loop carrying the token string as a passenger, then the
    identical per-doc join + fold."""
    layers = [f"""
qpd AS (
  SELECT doc_id, token, COUNT(*) AS cnt FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+'))
      AS token FROM {table}) GROUP BY doc_id, token
),
qbt AS (SELECT token, CAST(SUM(cnt) AS BIGINT) AS freq
        FROM qpd GROUP BY token),
qbs0 AS (SELECT token, freq, str_split(token, '') AS seq FROM qbt)"""]
    for i in range(1, n_merges + 1):
        prev = f"qbs{i - 1}"
        layers.append(f"""
qbp{i} AS (
  SELECT seq[j] AS a, seq[j + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM {prev}, unnest(generate_series(1, len(seq) - 1)) u(j)
  GROUP BY 1, 2
),
qbtop{i} AS (SELECT a, b, cnt FROM qbp{i}
             ORDER BY cnt DESC, a, b LIMIT 1),
qbs{i} AS (
  SELECT token, freq,
         list_reduce(list_transform(seq, x -> [x]),
                     (acc, x) -> CASE
                       WHEN len(acc) > 0 AND acc[-1] = t.a AND x[1] = t.b
                       THEN acc[1:len(acc) - 1] || [acc[-1] || x[1]]
                       ELSE acc || x END) AS seq
  FROM {prev} CROSS JOIN qbtop{i} t
)""")
    return ("WITH " + ",".join(layers) + f""",
qenc AS (
  SELECT p.doc_id, p.cnt, length(p.token) AS tlen, len(s.seq) AS n_sym
  FROM qpd p JOIN qbs{n_merges} s USING (token)
),
qagg AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(SUM(cnt * n_sym) AS BIGINT) AS n_symbols,
         ROUND(SUM(cnt * tlen) * 1.0 / SUM(cnt * n_sym), 6)
           AS compression
  FROM qenc GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.n_symbols, 0) AS n_symbols, a.compression
FROM (SELECT DISTINCT doc_id FROM {table}) d
LEFT JOIN qagg a USING (doc_id)""")


# ---------------------------------------------------------------------------
# Document chunking (RAG / context-window preparation)
# ---------------------------------------------------------------------------

def chunk_documents(docs: DataFrame, window: int = 64, overlap: int = 16) -> DataFrame:
    """Split every document into overlapping token windows — the RAG /
    embedding-prep chunker (and the packing front-end for long-document
    training): whitespace tokens, ``window`` tokens per chunk, stride
    ``window − overlap``; the final chunk keeps its natural short tail.
    ``chunk_idx = start / stride`` so the id is a pure function of the
    offset, not of any explode ordering.

    Shape: split → `sequence` of starts → ONE explode at chunk
    cardinality (bounded fanout ``⌈n_tokens/stride⌉``) → `slice` +
    `array_join`, all codegen array expressions; a map-only operator —
    zero shuffles, zero Python — that pipelines straight into the
    embedding or dedup stage downstream.
    """
    if overlap >= window:
        raise ValueError("chunk_documents: overlap must be < window")
    stride = window - overlap
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                        F.lit(stride))
    e = (docs.select("doc_id", toks.alias("_toks"),
                     F.explode(starts).alias("start")))
    piece = F.slice(F.col("_toks"), F.col("start") + 1, window)
    return e.select(
        "doc_id",
        (F.col("start") / stride).cast("int").alias("chunk_idx"),
        F.col("start").cast("int").alias("start"),
        F.size(piece).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"))


def chunk_documents_sql(table: str = "documents", text_col: str = "text",
                        window: int = 64, overlap: int = 16) -> str:
    """DuckDB oracle: identical split, start grid (``range`` excludes
    the end exactly where ``sequence`` tops out at n−1), slice, join."""
    stride = window - overlap
    return f"""
WITH ct AS (
  SELECT doc_id, str_split({text_col}, ' ') AS toks
  FROM {table}
),
cs AS (
  SELECT doc_id, toks,
         unnest(range(0, GREATEST(len(toks) - 1, 0) + 1, {stride}))
           AS start
  FROM ct
)
SELECT doc_id,
       CAST(start // {stride} AS INT) AS chunk_idx,
       CAST(start AS INT) AS start,
       CAST(len(list_slice(toks, start + 1, start + {window})) AS INT)
         AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + {window}), ' ')
         AS chunk_text
FROM cs
"""


def zipf_fit(docs: DataFrame) -> DataFrame:
    """Zipf rank-frequency fit per group — the corpus-health check that
    catches template spam, OCR noise, and synthetic text (natural
    language sits near slope −1 on log rank vs log freq; boilerplate
    flattens it, noise steepens it): OLS of ``ln freq`` on ``ln rank``
    over the top 200 types, with slope, intercept, and R².

    Shape: one tokenize+count hash agg at (group × vocab) cardinality,
    ONE group window for the deterministic (freq DESC, token ASC) rank
    truncated at rank 200 — the sort shuffles the aggregated VOCAB
    table, never the corpus — then a group-cardinality OLS agg in
    moment form (identical expression tree both engines).
    """
    toks = (docs.select("lang",
                        F.explode(F.split(F.col("text"), " "))
                        .alias("tok"))
            .filter(F.col("tok") != ""))
    freq = toks.groupBy("lang", "tok").agg(
        F.count("*").cast("double").alias("f"))
    # per-group (freq DESC, token ASC) rank via the grouped two-level
    # scan — a per-group row_number window would sort each group's
    # whole VOCAB in one task; the two-level index bounds task state
    # at range-partition size regardless of vocabulary growth
    from satellitetools_spark.operators.cumsum import \
        grouped_prefix_sums
    ranked = (grouped_prefix_sums(
                  freq, ["lang"],
                  [F.col("f").desc(), F.col("tok").asc()], [],
                  with_index=True)
              .filter(F.col("_idx") <= 200)
              .select("lang",
                      F.log(F.col("_idx").cast("double")).alias("x"),
                      F.log("f").alias("y")))
    agg = ranked.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_types"),
        F.avg("x").alias("mx"), F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"))
    cov = F.col("mxy") - F.col("mx") * F.col("my")
    vx = F.col("mxx") - F.col("mx") ** 2
    vy = F.col("myy") - F.col("my") ** 2
    return agg.select(
        "lang", "n_types",
        F.expr("ROUND(" + "(mxy - mx * my) / NULLIF(mxx - mx * mx, 0)"
               + ", 6) + 0.0").alias("zipf_slope"),
        F.expr("ROUND(my - (mxy - mx * my) / NULLIF(mxx - mx * mx, 0)"
               " * mx, 6) + 0.0").alias("intercept"),
        F.expr("ROUND((mxy - mx * my) * (mxy - mx * my)"
               " / NULLIF((mxx - mx * mx) * (myy - my * my), 0), 6)"
               " + 0.0").alias("r2"))


def zipf_fit_sql(table: str, group_col: str = "lang",
                 text_col: str = "text", top_n: int = 200) -> str:
    """DuckDB oracle: identical tokenize/count, deterministic ranked
    cut, and moment-form OLS expression strings."""
    return f"""
WITH zft AS (
  SELECT {group_col}, unnest(str_split({text_col}, ' ')) AS tok
  FROM {table}
),
zff AS (
  SELECT {group_col}, tok, CAST(COUNT(*) AS DOUBLE) AS f
  FROM zft WHERE tok <> '' GROUP BY {group_col}, tok
),
zfr AS (
  SELECT {group_col},
         LN(CAST(ROW_NUMBER() OVER (PARTITION BY {group_col}
                                    ORDER BY f DESC, tok) AS DOUBLE))
           AS x,
         LN(f) AS y,
         ROW_NUMBER() OVER (PARTITION BY {group_col}
                            ORDER BY f DESC, tok) AS r
  FROM zff QUALIFY r <= {top_n}
),
zfa AS (
  SELECT {group_col}, CAST(COUNT(*) AS BIGINT) AS n_types,
         AVG(x) AS mx, AVG(y) AS my, AVG(x * y) AS mxy,
         AVG(x * x) AS mxx, AVG(y * y) AS myy
  FROM zfr GROUP BY {group_col}
)
SELECT {group_col}, n_types,
       ROUND((mxy - mx * my) / NULLIF(mxx - mx * mx, 0), 6) + 0.0
         AS zipf_slope,
       ROUND(my - (mxy - mx * my) / NULLIF(mxx - mx * mx, 0) * mx, 6)
         + 0.0 AS intercept,
       ROUND((mxy - mx * my) * (mxy - mx * my)
             / NULLIF((mxx - mx * mx) * (myy - my * my), 0), 6) + 0.0
         AS r2
FROM zfa
"""


def readability(docs: DataFrame) -> DataFrame:
    """Flesch-reading-ease heuristic per document — the classic
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) with
    fully relational proxies: words = whitespace tokens, sentences =
    ``[.!?]+`` runs (floored at 1 for unpunctuated text), syllables =
    ``[aeiouy]+`` vowel-group runs in the lowercased text (the
    standard one-pass approximation; per-word minimums are skipped so
    the count stays a single regexp scan). Lower = harder text — a
    cheap quality-filter feature alongside ``quality_score``.

    Shape: pure map-only codegen (three regexp counters + arithmetic),
    zero shuffles, zero Python — the per-row cost IS the regexp scans.
    """
    t = F.col("text")
    words = F.size(F.split(F.trim(t), r"\s+")).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(t, F.lit(r"[.!?]+")).cast("long"))
    syll = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")).cast("long"))
    flesch = (F.lit(206.835)
              - F.lit(1.015) * words / sents
              - F.lit(84.6) * syll / words)
    return docs.select(
        "doc_id", words.alias("n_words"), sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        (F.round(flesch, 6) + 0.0).alias("flesch"))


def readability_sql(table: str = "documents",
                    text_col: str = "text") -> str:
    """DuckDB oracle: identical regexp counters (RE2 and Java agree on
    these character-class patterns) and formula."""
    return f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim({text_col}), '\\s+'))
            AS BIGINT) AS n_words,
       GREATEST(1, CAST(len(regexp_extract_all({text_col}, '[.!?]+'))
                        AS BIGINT)) AS n_sentences,
       GREATEST(1, CAST(len(regexp_extract_all(lower({text_col}),
                                               '[aeiouy]+'))
                        AS BIGINT)) AS n_syllables,
       ROUND(206.835
             - 1.015 * (CAST(len(regexp_split_to_array(
                   trim({text_col}), '\\s+')) AS BIGINT)
                 * 1.0 / GREATEST(1, CAST(len(regexp_extract_all(
                       {text_col}, '[.!?]+')) AS BIGINT)))
             - 84.6 * (GREATEST(1, CAST(len(regexp_extract_all(
                   lower({text_col}), '[aeiouy]+')) AS BIGINT))
                 * 1.0 / CAST(len(regexp_split_to_array(
                       trim({text_col}), '\\s+')) AS BIGINT)), 6)
         + 0.0 AS flesch
FROM {table}
"""


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Vocabulary-richness profile per document: token count, type
    (distinct-token) count, type–token ratio, and the hapax fraction
    (share of types occurring exactly once) — the cheap lexical
    sameness/templatedness signals (low TTR = repetitive boilerplate,
    high hapax = vocabulary-dense prose).

    Shape: one explode → (doc, token) hash agg (map-side combinable)
    → doc-cardinality rollup. All counts integer-exact; floats only
    in the two final ratios.
    """
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("_t"))
    per_tok = (tok.groupBy("doc_id", "_t")
               .agg(F.count("*").cast("long").alias("_c")))
    per_doc = (per_tok.groupBy("doc_id")
               .agg(F.sum("_c").cast("long").alias("n_tokens"),
                    F.count("*").cast("long").alias("n_types"),
                    F.sum(F.when(F.col("_c") == 1, 1).otherwise(0))
                    .cast("long").alias("n_hapax")))
    return per_doc.select(
        "doc_id", "n_tokens", "n_types", "n_hapax",
        (F.round(F.col("n_types") / F.col("n_tokens").cast("double"),
                 6) + 0.0).alias("ttr"),
        (F.round(F.col("n_hapax") / F.col("n_types").cast("double"),
                 6) + 0.0).alias("hapax_frac"))


def lexical_diversity_sql(table: str = "documents",
                          text_col: str = "text") -> str:
    """DuckDB oracle: identical tokenize → per-token counts → rollup."""
    return f"""
WITH ldt AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim({text_col}),
                                              '\\s+')) AS t
  FROM {table}
),
ldc AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
  FROM ldt GROUP BY doc_id, t
),
ldd AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hapax
  FROM ldc GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types, n_hapax,
       ROUND(n_types / CAST(n_tokens AS DOUBLE), 6) + 0.0 AS ttr,
       ROUND(n_hapax / CAST(n_types AS DOUBLE), 6) + 0.0 AS hapax_frac
FROM ldd
"""


def term_dispersion(docs: DataFrame, min_df: int = 5, top_k: int = 50) -> DataFrame:
    """Term burstiness: the variance-to-mean ratio (index of
    dispersion) of each term's per-document count, over documents that
    contain it ≥ 0 times (all docs in the corpus). VMR ≈ 1 = Poisson
    (background vocabulary), VMR ≫ 1 = bursty (topical terms cluster
    in few docs) — the content-word detector that plain DF misses.
    Top-``top_k`` by (round-6 VMR, term) over terms with DF ≥
    ``min_df``.

    Shape: explode → (term, doc) hash agg → term-cardinality moment
    agg (Σc, Σc² with the zero-count docs entering via N from a
    1-row broadcast) → TakeOrderedAndProject. The fact table shuffles
    once.
    """
    n_docs = docs.agg(F.countDistinct("doc_id").alias("_nd"))
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    per = (tok.groupBy("term", "doc_id")
           .agg(F.count("*").cast("long").alias("_c")))
    mom = (per.groupBy("term")
           .agg(F.count("*").cast("long").alias("df"),
                F.sum("_c").cast("long").alias("_s"),
                F.sum(F.col("_c") * F.col("_c")).cast("long")
                .alias("_s2"))
           .filter(F.col("df") >= int(min_df))
           .crossJoin(F.broadcast(n_docs)))
    # moments over ALL docs (zero counts included): mean = s/N,
    # E[c²] = s2/N — both exact-integer ratios
    from pyspark.sql import Window
    mean = F.col("_s") / F.col("_nd").cast("double")
    var = F.col("_s2") / F.col("_nd").cast("double") - mean * mean
    vmr = (F.round(var / mean, 6) + 0.0)
    # cut FIRST (TakeOrderedAndProject: per-partition heaps, no global
    # sort of the vocabulary), then number the k survivors — the
    # row_number window only ever sees top_k rows
    sel = (mom.select("term", "df", F.col("_s").alias("tf"),
                      vmr.alias("vmr"))
           .orderBy(F.desc("vmr"), F.asc("term")).limit(int(top_k)))
    w = Window.orderBy(F.desc("vmr"), F.asc("term"))
    return (sel.withColumn("rank", F.row_number().over(w))
            .select("rank", "term", "df", "tf", "vmr"))


def term_dispersion_sql(table: str = "documents",
                        text_col: str = "text", min_df: int = 5,
                        top_k: int = 50) -> str:
    """DuckDB oracle: identical per-doc counts, corpus-wide moments,
    and ranked cut."""
    return f"""
WITH tdn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
             FROM {table}),
tdt AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim({text_col}),
                                              '\\s+')) AS term
  FROM {table}
),
tdp AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM tdt GROUP BY term, doc_id
),
tdm AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM tdp GROUP BY term HAVING COUNT(*) >= {int(min_df)}
),
tdv AS (
  SELECT term, df, s AS tf,
         ROUND((s2 / CAST(nd AS DOUBLE)
                - (s / CAST(nd AS DOUBLE)) * (s / CAST(nd AS DOUBLE)))
               / (s / CAST(nd AS DOUBLE)), 6) + 0.0 AS vmr
  FROM tdm CROSS JOIN tdn
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY vmr DESC, term ASC) AS INT)
         AS rank,
       term, df, tf, vmr
FROM tdv
ORDER BY vmr DESC, term ASC
LIMIT {int(top_k)}
"""


# ---------------------------------------------------------------------------
# Vocabulary richness: Chao1 + Good-Turing coverage
# ---------------------------------------------------------------------------

def vocab_richness(docs: DataFrame) -> DataFrame:
    """How much vocabulary the corpus HASN'T shown yet: observed type
    count, singleton/doubleton counts, the Chao1 lower-bound estimate
    of true vocabulary size ``S + f₁²/(2f₂)`` (bias-corrected form
    ``S + f₁(f₁−1)/2`` when f₂ = 0), and the Good-Turing coverage
    ``1 − f₁/n`` (the probability the NEXT token is one already seen)
    — the "is more crawling worth it" readout for corpus growth
    decisions.

    Shape: tokenize → one (token → count) hash agg (the same full-
    vocabulary shuffle the DF/IDF operators already pay — this is a
    vocabulary statistic, there is no smaller sufficient state), then
    a 1-row conditional fold over the count table. The count table is
    type-cardinality; nothing downstream is fact-sized.
    """
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t"))
    counts = toks.groupBy("t").agg(F.count("*").cast("double").alias("c"))
    agg = counts.agg(
        F.count("*").cast("double").alias("s_obs"),
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("c") == 1.0, 1.0).otherwise(0.0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2.0, 1.0).otherwise(0.0)).alias("f2"))
    chao1 = F.when(
        F.col("f2") > 0,
        F.col("s_obs") + F.col("f1") * F.col("f1") / (2.0 * F.col("f2"))
    ).otherwise(
        F.col("s_obs") + F.col("f1") * (F.col("f1") - 1.0) / 2.0)
    return agg.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.col("s_obs").cast("long").alias("n_types"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        (F.round(chao1, 6) + 0.0).alias("chao1"),
        (F.round(1.0 - F.col("f1") / F.col("n"), 6) + 0.0)
        .alias("coverage"))


def vocab_richness_sql(table: str = "documents",
                       text_col: str = "text") -> str:
    """DuckDB oracle: identical tokenize → counts → conditional fold."""
    return f"""
WITH vrt AS (
  SELECT unnest(regexp_split_to_array(trim({text_col}), '\\s+')) AS t
  FROM {table}
),
vrc AS (
  SELECT t, CAST(COUNT(*) AS DOUBLE) AS c FROM vrt GROUP BY t
),
vra AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS s_obs, SUM(c) AS n,
         SUM(CASE WHEN c = 1.0 THEN 1.0 ELSE 0.0 END) AS f1,
         SUM(CASE WHEN c = 2.0 THEN 1.0 ELSE 0.0 END) AS f2
  FROM vrc
)
SELECT CAST(n AS BIGINT) AS n_tokens, CAST(s_obs AS BIGINT) AS n_types,
       CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
       ROUND(CASE WHEN f2 > 0 THEN s_obs + f1 * f1 / (2.0 * f2)
             ELSE s_obs + f1 * (f1 - 1.0) / 2.0 END, 6) + 0.0 AS chao1,
       ROUND(1.0 - f1 / n, 6) + 0.0 AS coverage
FROM vra
"""


# ---------------------------------------------------------------------------
# Multinomial naive Bayes (train + score, one lazy plan)
# ---------------------------------------------------------------------------

def naive_bayes_predict(docs: DataFrame) -> DataFrame:
    """Multinomial naive-Bayes classification of every document, with
    the model TRAINED on the same corpus in the same lazy plan — the
    classic weak-labeler / label-noise audit (where does the stated
    `lang` disagree with the token evidence?). Laplace smoothing
    (``alpha = 1``); returns (doc_id, actual, pred, log_score).

    Unseen (doc, label) token mass is handled exactly without a dense
    doc×label×token join: for each label the smoothing floor
    ``ln(alpha / (N_label + alpha·V))`` is a constant, so
    ``score = prior + Σ_seen c_t·(llh_t − floor) + T_doc·floor`` needs
    only the SEEN-token join. Shapes: token-count facts reduce map-side
    to (doc, token, c); the model table is (vocab × labels) and joins
    on token (broadcast when small, shuffle otherwise); the per-doc
    fold is one hash agg; argmax is a row_number over |labels| rows per
    doc ranked on round(score, 6) with label ASC tie-break — ranking
    on the ROUNDED score keeps the argmax deterministic across
    engines and partitionings (sub-1e-6 gaps are fp-sum noise).
    """
    toks = F.regexp_extract_all(F.lower(F.col("text")),
                                F.lit("[a-z0-9]+"), 0)
    base = docs.select("doc_id", F.col("lang").alias("actual"),
                       toks.alias("_toks"))
    facts = (base.select("doc_id", "actual",
                         F.explode("_toks").alias("token"))
             .groupBy("doc_id", "actual", "token")
             .agg(F.count("*").alias("c")))
    # doclen comes from BASE, not the exploded facts: a document whose
    # text yields zero [a-z0-9]+ tokens must still be classified
    # (t_doc = 0 -> score = prior), not silently dropped.
    doclen = base.select("doc_id", "actual",
                         F.size("_toks").cast("long").alias("t_doc"))
    # model: per-label priors and token log-likelihoods
    cls = (facts.groupBy("actual", "token")
           .agg(F.sum("c").alias("ct"))
           .withColumnRenamed("actual", "label"))
    nlab = cls.groupBy("label").agg(F.sum("ct").alias("n_label"))
    vocab = cls.select("token").distinct().agg(
        F.count("*").alias("v"))
    ndocs = base.groupBy(F.col("actual").alias("label")).agg(
        F.count("*").alias("n_docs_label"))
    total = base.agg(F.count("*").alias("n_docs"))
    model = (cls.join(nlab, "label")
             .crossJoin(F.broadcast(vocab))
             .select("label", "token",
                     (F.log((F.col("ct") + F.lit(1.0))
                            / (F.col("n_label")
                               + F.lit(1.0) * F.col("v")))
                      ).alias("llh")))
    floor = (nlab.crossJoin(F.broadcast(vocab))
             .select("label",
                     F.log(F.lit(1.0)
                           / (F.col("n_label")
                              + F.lit(1.0) * F.col("v")))
                     .alias("floor")))
    prior = (ndocs.crossJoin(F.broadcast(total))
             .select("label",
                     F.log(F.col("n_docs_label")
                           / F.col("n_docs")).alias("prior")))
    seen = (facts.join(model, "token")
            .groupBy("doc_id", "label")
            .agg(F.sum(F.col("c") * F.col("llh")).alias("s_seen"),
                 F.sum("c").alias("k_seen")))
    scored = (doclen.crossJoin(F.broadcast(
                  prior.join(floor, "label")))
              .join(seen, ["doc_id", "label"], "left")
              .select("doc_id", "actual", "label",
                      (F.col("prior")
                       + F.coalesce(F.col("s_seen"), F.lit(0.0))
                       - F.coalesce(F.col("k_seen"), F.lit(0))
                       * F.col("floor")
                       + F.col("t_doc") * F.col("floor"))
                      .alias("score")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("label").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id", "actual", F.col("label").alias("pred"),
                    (F.round("score", 6) + 0.0).alias("log_score")))


def naive_bayes_predict_sql(table: str = "documents",
                            label_col: str = "lang",
                            text_col: str = "text",
                            alpha: float = 1.0) -> str:
    """DuckDB oracle: identical tokenization, smoothing algebra, and
    rounded-score argmax tie-break."""
    a = float(alpha)
    return f"""
WITH base AS (
  SELECT doc_id, {label_col} AS actual,
         regexp_extract_all(lower({text_col}), '[a-z0-9]+') AS toks
  FROM {table}
),
facts AS (
  SELECT doc_id, actual, unnest(toks) AS token FROM base
),
cnt AS (
  SELECT doc_id, actual, token, COUNT(*) AS c
  FROM facts GROUP BY 1, 2, 3
),
doclen AS (
  -- from BASE so zero-token documents keep a (prior-only) prediction
  SELECT doc_id, actual, CAST(len(toks) AS BIGINT) AS t_doc FROM base
),
cls AS (
  SELECT actual AS label, token, SUM(c) AS ct FROM cnt GROUP BY 1, 2
),
nlab AS (SELECT label, SUM(ct) AS n_label FROM cls GROUP BY label),
vocab AS (SELECT COUNT(DISTINCT token) AS v FROM cls),
prior AS (
  SELECT actual AS label,
         LN(COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM base))
           AS prior
  FROM base GROUP BY actual
),
model AS (
  SELECT c.label, c.token,
         LN((c.ct + {a}) / (n.n_label + {a} * v.v)) AS llh
  FROM cls c JOIN nlab n USING (label) CROSS JOIN vocab v
),
flr AS (
  SELECT n.label, LN({a} / (n.n_label + {a} * v.v)) AS floor
  FROM nlab n CROSS JOIN vocab v
),
seen AS (
  SELECT t.doc_id, m.label,
         SUM(t.c * m.llh) AS s_seen, SUM(t.c) AS k_seen
  FROM cnt t JOIN model m ON t.token = m.token
  GROUP BY 1, 2
),
scored AS (
  SELECT d.doc_id, d.actual, p.label,
         p.prior + COALESCE(s.s_seen, 0.0)
           - COALESCE(s.k_seen, 0) * f.floor
           + d.t_doc * f.floor AS score
  FROM doclen d
  CROSS JOIN prior p
  JOIN flr f ON f.label = p.label
  LEFT JOIN seen s ON s.doc_id = d.doc_id AND s.label = p.label
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id
      ORDER BY ROUND(score, 6) DESC, label ASC) AS rn
  FROM scored
)
SELECT doc_id, actual, label AS pred,
       ROUND(score, 6) + 0.0 AS log_score
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# RAKE keyword extraction (corpus top-k multi-word phrases)
# ---------------------------------------------------------------------------

RAKE_STOPWORDS = (
    "a an and are as at be by for from has he in is it its of on that "
    "the to was were will with this which or but not no so if then "
    "than too very can could should would may might must do does did "
    "have had having i you we they them their there here when where "
    "how what who whom why all any both each few more most other some "
    "such only own same s t just don now").split()


def rake_keywords(docs: DataFrame, top_k: int = 25) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction) over the corpus:
    candidate phrases are maximal stopword-free token runs; each word
    scores deg(w)/freq(w) (deg = Σ phrase length over its
    occurrences — co-occurrence degree); a phrase scores the sum of
    its word scores. Returns the corpus top-k multi-word phrases
    (n_tokens ≥ 2) by (score DESC, phrase ASC) with
    occurrence counts — the corpus-level keyword/terminology miner
    that complements per-doc tf-idf.

    Shape: phrase segmentation is the GAPS-AND-ISLANDS trick — one
    doc-keyed window assigns run ids (pos − row_number over non-stop
    tokens), so phrases materialize with ONE exchange of the token
    stream and zero UDFs; word stats are vocabulary-cardinality hash
    aggs; the final rank is a heap top-k over the distinct-phrase
    table. Every step is identical relational algebra in the DuckDB
    oracle.
    """
    toks = (docs.select(
        "doc_id",
        F.posexplode(F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), "
            "x -> x != '')")).alias("pos", "token")))
    nonstop = toks.filter(~F.col("token").isin(list(RAKE_STOPWORDS)))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = nonstop.withColumn(
        "run", F.col("pos") - F.row_number().over(w))
    phrases = (runs.groupBy("doc_id", "run")
               .agg(F.concat_ws(" ", F.array_sort(
                   F.collect_list(F.struct("pos", "token")))
                   .getField("token")).alias("phrase"),
                    F.count("*").alias("plen")))
    occ = (runs.join(phrases.select("doc_id", "run", "plen"),
                     ["doc_id", "run"])
           .select("token", "plen"))
    wstats = (occ.groupBy("token")
              .agg(F.count("*").alias("freq"),
                   F.sum("plen").alias("deg")))
    ph_words = (runs.join(wstats, "token")
                .groupBy("doc_id", "run")
                .agg(F.sum(F.col("deg") / F.col("freq"))
                     .alias("score")))
    scored = (phrases.join(ph_words, ["doc_id", "run"])
              .filter(F.col("plen") >= 2)
              .groupBy("phrase")
              .agg(F.count("*").cast("long").alias("n_occurrences"),
                   (F.round(F.max("score"), 6) + 0.0).alias("score")))
    return (scored.orderBy(F.col("score").desc(),
                           F.col("phrase").asc())
            .limit(int(top_k)))


def rake_keywords_sql(table: str = "documents", text_col: str = "text",
                      top_k: int = 25,
                      stopwords: Sequence[str] = tuple(RAKE_STOPWORDS),
                      min_len: int = 2) -> str:
    """DuckDB oracle: identical segmentation (gaps-and-islands), word
    degree/frequency algebra, and tie order."""
    sw = ", ".join(f"'{w}'" for w in stopwords)
    return f"""
WITH arrs AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower({text_col}),
                                        '[^a-z0-9]+'),
                     x -> x != '') AS arr
  FROM {table}
),
toks AS (
  SELECT doc_id, pos - 1 AS pos, arr[pos] AS token
  FROM (SELECT doc_id, arr,
               unnest(generate_series(1, len(arr))) AS pos
        FROM arrs)
),
nonstop AS (
  SELECT * FROM toks WHERE token NOT IN ({sw})
),
runs AS (
  SELECT doc_id, pos, token,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
           AS run
  FROM nonstop
),
phrases AS (
  SELECT doc_id, run,
         string_agg(token, ' ' ORDER BY pos) AS phrase,
         COUNT(*) AS plen
  FROM runs GROUP BY doc_id, run
),
occ AS (
  SELECT r.token, p.plen
  FROM runs r JOIN phrases p ON r.doc_id = p.doc_id AND r.run = p.run
),
wstats AS (
  SELECT token, COUNT(*) AS freq, SUM(plen) AS deg FROM occ
  GROUP BY token
),
ph_words AS (
  SELECT r.doc_id, r.run, SUM(w.deg * 1.0 / w.freq) AS score
  FROM runs r JOIN wstats w USING (token)
  GROUP BY r.doc_id, r.run
),
scored AS (
  SELECT p.phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         ROUND(MAX(s.score), 6) + 0.0 AS score
  FROM phrases p JOIN ph_words s
    ON p.doc_id = s.doc_id AND p.run = s.run
  WHERE p.plen >= {int(min_len)}
  GROUP BY p.phrase
)
SELECT phrase, n_occurrences, score FROM scored
ORDER BY score DESC, phrase ASC
LIMIT {int(top_k)}
"""
