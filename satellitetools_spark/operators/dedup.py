"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes:
- exact dedup = one hash-agg on a normalized md5 fingerprint;
- n-gram Jaccard = shingle explode → equi-join on shingle → count
  intersections (the classic pair-join; shuffle keyed on shingle, so hot
  shingles are the skew risk — mitigated by dropping ubiquitous shingles
  ``max_df`` style and by AQE skew-join);
- MinHash+LSH is the 10^12-scale path: signatures via xxHash64 (JVM-side,
  one shuffle), banding → candidate pairs only where a band bucket
  collides, then *exact* Jaccard verification of candidates — the emitted
  pairs are exact matches of the brute-force operator above threshold
  (up to LSH recall, ≥1-3e-8 at J≥0.9 with 16 bands × 4 rows);
- SimHash = 64-bit signature per doc from md5-derived token hashes,
  vectorized in one pandas UDF; near-dup = small Hamming distance;
- connected components turn any of the pair tables into disjoint dup
  clusters with a canonical keeper (min-label propagation, one shuffle per
  round, rounds = cluster diameter).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import fingerprint


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Per-doc fingerprint + canonical keeper (min doc_id per fingerprint)."""
    fp = fingerprint(docs)
    w = Window.partitionBy("fingerprint")
    return fp.select(
        "doc_id", "fingerprint",
        F.min("doc_id").over(w).alias("keeper"),
        (F.count("*").over(w) > 1).alias("is_duplicate"),
    )


def _tokenized(docs: DataFrame, text_col: str) -> DataFrame:
    """Project the token array as its OWN column first. Building shingles
    directly over a ``split(...)`` subexpression makes the lambda re-split
    the full text for every array element (O(len²) per document — measured
    ~20x slower); a two-step projection evaluates the split once per row
    (CollapseProject keeps multi-referenced aliases un-inlined)."""
    return docs.select(
        "doc_id", F.split(F.trim(F.col(text_col)), "\\s+").alias("_toks"))


def _shingles_from_tokens(n: int):
    tk = F.col("_toks")
    # guard: sequence(0, size-n) with size < n would generate a DESCENDING
    # [0, -1] (Spark semantics) whose out-of-range element_at kills the
    # whole job on the first document shorter than the shingle size — a
    # real corpus always contains some. Short docs emit no shingles.
    idx = F.when(F.size(tk) >= n, F.sequence(F.lit(0), F.size(tk) - n)) \
        .otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(tk, i + k + 1) for k in range(n)]))


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (long table)."""
    return (
        _tokenized(docs, "text")
        .select("doc_id", F.explode(_shingles_from_tokens(n)).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact word-trigram Jaccard similar pairs (doc_a < doc_b, jaccard ≥ t)."""
    sh = word_shingles(docs, 3)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def jaccard_pairs_sql(table: str = "documents", n: int = 3,
                      threshold: float = 0.5, text_col: str = "text") -> str:
    gram = " || ' ' || ".join(f"arr[pos+{k}]" for k in range(n))
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim({text_col}), '\\s+') AS arr
  FROM {table}
),
sh AS (
  SELECT DISTINCT doc_id, {gram} AS shingle
  FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - {n - 1})) AS pos FROM toks)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {threshold}
"""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """MinHash signature per doc over word trigrams: min of seeded xxHash64
    per hash function, 64 functions.

    One explode + one hash-agg; all hashing JVM-side (xxhash64 with seed),
    no Python. Signature is an array<long> column.
    """
    # NO .distinct() before the min-agg: min over a multiset equals min over
    # its distinct support, so the signature is identical while skipping a
    # full shingle-table dedup shuffle. The explode feeds partial (map-side)
    # min aggregation, so the only exchange carries doc-cardinality rows of
    # 64 longs.
    sh = _tokenized(docs, "text").select(
        "doc_id", F.explode(_shingles_from_tokens(3)).alias("shingle"))
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(64)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(64)]).alias("sig"))


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate generation (64 MinHashes in 16 bands) + exact
    word-trigram Jaccard ≥ 0.5 verification.

    Scale path: candidates come only from band-bucket collisions (shuffle on
    band hash), then candidates are verified with an exact intersection
    count — output equals :func:`jaccard_pairs` up to LSH recall.
    """
    rows = 4  # 64 hashes in 16 bands
    sig = minhash_signatures(docs)
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.element_at("sig", b * rows + r + 1)
                              for r in range(rows)]).alias("bucket"))
        for b in range(16)
    ]
    buckets = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb")) \
        .select("doc_id", "bb.band", "bb.bucket")
    cand = (
        buckets.alias("a").join(
            buckets.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verification of the (small) candidate set
    sh = word_shingles(docs, 3)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingle", "shingle_b"),
              "doc_b")
        .filter(F.col("shingle") == F.col("shingle_b"))
        .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b") -> DataFrame:
    """Duplicate-cluster assignment: connected components over a pair table.

    The step after pair mining in a dedup pipeline — near-dup PAIRS
    (minhash/simhash/cosine) must become disjoint CLUSTERS before a keeper
    can be chosen, because near-duplication chains (A~B, B~C, A!~C).

    Iterative min-label propagation: every node starts labeled with itself;
    each round every node takes the minimum label among itself and its
    neighbors; fixpoint = every node labeled with its component's minimum
    doc_id (which doubles as the canonical keeper). One shuffle
    (join + hash-agg) per round, rounds = graph diameter — dup clusters are
    shallow (chains of a few hops), so this converges in 2-4 rounds at any
    table size; ``localCheckpoint`` cuts plan lineage so round N's plan
    does not embed rounds 1..N-1. (For adversarially long chains switch to
    large-star/small-star, which squares the convergence rate; not needed
    for dedup-shaped graphs.)

    Output: (doc_id, component) for every doc that appears in ``pairs``;
    component == doc_id marks the keeper.
    """
    edges = (pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
             .union(pairs.select(F.col(b_col).alias("src"),
                                 F.col(a_col).alias("dst"))))
    labels = (edges.select("src").union(edges.select("dst"))
              .distinct()
              .select(F.col("src").alias("node"), F.col("src").alias("comp"))
              .localCheckpoint(eager=True))
    for _ in range(20):
        nbr = (edges.join(labels, edges["src"] == labels["node"])
               .groupBy("dst").agg(F.min("comp").alias("nmin"))
               .withColumnRenamed("dst", "node"))
        new_labels = (
            labels.withColumnRenamed("comp", "old")
            .join(nbr, "node", "left")
            .select("node", "old",
                    F.least("old", F.coalesce("nmin", "old")).alias("comp"))
        ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("comp") != F.col("old")).count()
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("comp").alias("component"))


def components_sql(pairs_sql: str) -> str:
    """DuckDB oracle: transitive closure via recursive CTE (UNION dedup
    guarantees termination on cycles), component = min reachable id."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.dst AS node, reach.r FROM reach JOIN edges e ON e.src = reach.node
)
SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
"""


def simhash(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per document, vectorized per Arrow batch.

    Each UNIQUE token is md5-hashed exactly once per executor (memoized
    vocabulary cache, natural-language vocabularies are Zipfian so the hit
    rate is high); per document the signature is one NumPy gather + one
    bit-matrix accumulation — no per-token Python in the steady state.
    Signature values are bit-identical to the per-token reference loop.
    The output id column inherits the INPUT's id type (string doc_ids in
    the interleaved tables, int64 in the driver's documents table).
    """
    out_schema = T.StructType([
        T.StructField("doc_id", docs.schema["doc_id"].dataType),
        T.StructField("simhash", T.LongType()),
    ])

    def compute(batches):
        import hashlib
        shifts = np.arange(64, dtype=np.uint64)
        one = np.uint64(1)
        vocab: dict = {}

        def tok_hash(tok: str) -> int:
            h = vocab.get(tok)
            if h is None:
                if len(vocab) > 1_000_000:
                    vocab.clear()
                h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                vocab[tok] = h
            return h

        for pdf in batches:
            out_ids = pdf["doc_id"].to_numpy()
            sigs = np.zeros(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf["text"].astype(str)):
                toks = text.lower().split()
                hs = np.fromiter((tok_hash(t) for t in toks),
                                 dtype=np.uint64, count=len(toks))
                # n_tok x 64 bit matrix -> column sums of (+1/-1)
                bits = ((hs[:, None] >> shifts) & one).astype(np.int64)
                acc = 2 * bits.sum(axis=0) - len(toks)
                packed = np.bitwise_or.reduce(
                    (acc >= 0).astype(np.uint64) << shifts)
                sigs[i] = np.int64(packed.astype(np.int64))
            yield pd.DataFrame({"doc_id": out_ids, "simhash": sigs})

    return docs.select("doc_id", "text").mapInPandas(
        compute, schema=out_schema)


def simhash_near_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ 3, using 4×16-bit block
    banding (any pair within distance 3 shares at least one exact block)."""
    sig = simhash(docs)
    blocks = [
        F.struct(F.lit(b).alias("blk"),
                 F.shiftright("simhash", 16 * b).bitwiseAND(F.lit(0xFFFF)).alias("key"))
        for b in range(4)
    ]
    bt = sig.select("doc_id", "simhash", F.explode(F.array(*blocks)).alias("bb")) \
        .select("doc_id", "simhash", "bb.blk", "bb.key")
    cand = (
        bt.alias("a").join(
            bt.alias("b"),
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("a.simhash").alias("sig_a"),
                F.col("b.doc_id").alias("doc_b"), F.col("b.simhash").alias("sig_b"))
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.withColumn("hamming", ham).filter(
        F.col("hamming") <= 3).select("doc_a", "doc_b", "hamming")


def simhash_near_pairs_sql(table: str = "documents", max_hamming: int = 3,
                           text_col: str = "text") -> str:
    """DuckDB oracle for :func:`simhash_near_pairs` — EXACT, because the
    4x16-bit banding is lossless for Hamming <= 3 by pigeonhole (4 blocks,
    at most 3 differing bits, so one block is identical), making the Spark
    output precisely "all pairs at Hamming distance <= k".

    The token hash is reproduced verbatim (first 8 md5 bytes, big-endian —
    DuckDB: first 16 hex chars of md5() cast via 0x-literal to UBIGINT);
    per-bit majority votes are summed directly and the pair Hamming
    distance is the count of disagreeing bit positions, which sidesteps
    DuckDB's signed << overflow at bit 63. Verified bit-identical to the
    NumPy kernel on adversarial strings before wiring."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(t), 1, 16) AS UBIGINT) AS h
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower({text_col}), '\\s+')) AS t
        FROM {table})
  WHERE t <> ''
), bits AS (
  SELECT doc_id, j,
         CASE WHEN sum(CAST((h >> CAST(j AS UBIGINT)) & 1 AS BIGINT) * 2 - 1)
                   >= 0
              THEN 1 ELSE 0 END AS b
  FROM toks CROSS JOIN range(64) r(j)
  GROUP BY doc_id, j
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS INT) AS hamming
FROM bits a JOIN bits b ON a.j = b.j AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) <= {max_hamming}
"""


def decontaminate(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    5-gram with a held-out benchmark/eval set (the standard pretraining
    leakage check — n-gram overlap, as in GPT-3 appendix C / FineWeb).

    Returns one row per contaminated NON-benchmark document:
    (doc_id, n_shared_grams, n_grams, shared_frac). Scale shape: distinct
    n-gram tables on both sides, one equi-join on the gram — the benchmark
    side is tiny by construction (an eval set), so Spark broadcasts it and
    the pass is map-side against the corpus scan; the per-doc rollup
    aggregates on doc_id, map-side combinable.
    """
    bench_ids = benchmark.select("doc_id").distinct()
    corpus = docs.join(bench_ids, "doc_id", "left_anti")
    sh = word_shingles(corpus, 5)
    bench_sh = word_shingles(benchmark, 5) \
        .select("shingle").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (sh.join(F.broadcast(bench_sh), "shingle")
            .groupBy("doc_id").agg(F.count("*").alias("n_shared_grams")))
    return (hits.join(sizes, "doc_id")
            .select("doc_id", "n_shared_grams", "n_grams",
                    F.round(F.col("n_shared_grams") / F.col("n_grams"), 6)
                    .alias("shared_frac")))


def decontaminate_sql(table: str = "documents", bench_where: str = "1=0",
                      n: int = 5, text_col: str = "text") -> str:
    """Oracle: ``bench_where`` selects the benchmark rows from ``table``."""
    gram = " || ' ' || ".join(f"arr[pos+{k}]" for k in range(n))
    return f"""
WITH toks AS (
  SELECT doc_id, ({bench_where}) AS is_bench,
         regexp_split_to_array(trim({text_col}), '\\s+') AS arr
  FROM {table}
),
sh AS (
  SELECT DISTINCT doc_id, is_bench, {gram} AS shingle
  FROM (SELECT doc_id, is_bench, arr,
               unnest(generate_series(1, len(arr) - {n - 1})) AS pos
        FROM toks)
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE is_bench),
corpus AS (SELECT doc_id, shingle FROM sh WHERE NOT is_bench),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id),
hits AS (
  SELECT doc_id, count(*) AS n_shared_grams
  FROM corpus JOIN bench USING (shingle) GROUP BY doc_id
)
SELECT doc_id, n_shared_grams, n_grams,
       ROUND(n_shared_grams * 1.0 / n_grams, 6) AS shared_frac
FROM hits JOIN sizes USING (doc_id)
"""


def dup_keeper(components: DataFrame, scores: DataFrame) -> DataFrame:
    """Quality-aware canonical-copy selection: inside each duplicate
    cluster, keep the member with the best quality score
    (deterministic (score DESC, doc_id ASC) tie order) — the finishing
    step of a dedup pipeline, replacing the naive min-id keeper with
    the copy a pretraining corpus actually wants to retain.

    ``components`` is (doc_id, component) from
    :func:`connected_components`; ``scores`` any (doc_id, score) frame.
    One key-equi join + one ranked window partitioned by component —
    both at clustered-doc cardinality (≪ corpus: only docs that
    appeared in a near-dup pair), so the window never sees the full
    table.
    """
    from pyspark.sql import Window
    j = components.join(scores.select("doc_id", "quality"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc())
    return (j.withColumn("rnk", F.row_number().over(w))
            .select("doc_id", "component", "quality",
                    (F.col("rnk") == 1).alias("is_keeper")))


def dup_keeper_sql(components_sql_str: str, scores_sql_str: str,
                   score_col: str = "quality") -> str:
    """DuckDB oracle: identical join + ranked window."""
    return f"""
WITH kcomp AS ({components_sql_str}),
kscore AS ({scores_sql_str}),
kj AS (
  SELECT c.doc_id, c.component, s.{score_col}
  FROM kcomp c JOIN kscore s USING (doc_id)
)
SELECT doc_id, component, {score_col},
       (ROW_NUMBER() OVER (PARTITION BY component
                           ORDER BY {score_col} DESC, doc_id ASC) = 1)
         AS is_keeper
FROM kj
"""


def dice_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Sørensen–Dice + containment coefficients for near-duplicate
    pairs over the same word-shingle sets as :func:`jaccard_pairs`:
    dice = 2·|A∩B| / (|A|+|B|) (forgiving of size imbalance),
    containment = |A∩B| / min(|A|,|B|) (detects SUBSET duplication —
    a doc wholly embedded in a larger one scores 1.0 here while its
    Jaccard can be arbitrarily low). Pairs kept at dice ≥ threshold.

    Shape: identical to the Jaccard baseline — shingle equi-join,
    never cartesian; counts integer-exact, floats only in the final
    two divisions. This is the oracle-checkable exact form; the LSH
    banding path (minhash_lsh_pairs) is the 100 TB candidate
    generator for it too.
    """
    sh = word_shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("sz_b"))
    dice = 2.0 * F.col("inter") / (F.col("sz_a") + F.col("sz_b"))
    cont = (F.col("inter")
            / F.least("sz_a", "sz_b").cast("double"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("dice", F.round(dice, 6) + 0.0)
            .filter(F.col("dice") >= float(threshold))
            .select("doc_a", "doc_b", "inter",
                    "dice", (F.round(cont, 6) + 0.0).alias("containment")))


def dice_pairs_sql(table: str = "documents", n: int = 3,
                   threshold: float = 0.5,
                   text_col: str = "text") -> str:
    """DuckDB oracle: same shingle sets, same coefficients."""
    gram = " || ' ' || ".join(f"arr[pos+{k}]" for k in range(n))
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim({text_col}), '\\s+') AS arr
  FROM {table}
),
sh AS (
  SELECT DISTINCT doc_id, {gram} AS shingle
  FROM (SELECT doc_id, arr,
               unnest(generate_series(1, len(arr) - {n - 1})) AS pos
        FROM toks)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, i AS inter,
       ROUND(2.0 * i / (sa.sz + sb.sz), 6) + 0.0 AS dice,
       ROUND(i / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6) + 0.0
         AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(2.0 * i / (sa.sz + sb.sz), 6) + 0.0 >= {float(threshold)!r}
"""


# ---------------------------------------------------------------------------
# AllPairs / prefix-filtering exact Jaccard join (the exact-threshold
# scale path; minhash_lsh_pairs is the approximate one)
# ---------------------------------------------------------------------------

def allpairs_jaccard_pairs(docs: DataFrame,
                           threshold: float = 0.5) -> DataFrame:
    """EXACT word-trigram Jaccard ≥ t pairs via AllPairs prefix filtering
    (Bayardo et al., WWW'07) — same output as :func:`jaccard_pairs`, but the
    candidate join touches only each document's PREFIX under a global
    rarest-first token order instead of every shingle. With prefix
    length ``|d| − ⌈t·|d|⌉ + 1``, any pair with J ≥ t must collide on
    at least one prefix token (overlap ≥ ⌈t·(|A|+|B|)/(1+t)⌉ >
    tokens skippable from either side), so recall is provably 1.0;
    candidates are then verified with the exact intersection count
    restricted to candidate pairs only.

    Why this is the 100 TB exact path: the full shingle equi-join fans
    out quadratically on COMMON shingles (stopword n-grams), while
    prefixes are the RAREST ⌈(1−t)|d|⌉+1 shingles of each doc — the
    head of the Zipf tail, where per-shingle doc lists are short. A
    secondary length filter (``t·|A| ≤ |B|``) prunes size-mismatched
    pairs before verification. Shapes: one doc-keyed window to rank
    shingles (one exchange over the shingle stream), the small
    prefix×prefix equi-join, and one verification join bounded by
    candidate docs. Ranking orders by (global df ASC, shingle ASC) —
    fully deterministic.
    """
    sh = word_shingles(docs, 3)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc())
    ranked = (sh.join(freq, "shingle")
              .withColumn("pos", F.row_number().over(wdoc))
              .withColumn("sz", F.count("*").over(
                  Window.partitionBy("doc_id"))))
    # ceil with an epsilon guard: IEEE double products can land a hair
    # ABOVE an exact integer crossing (0.55*20 -> 11.000000000000002,
    # ceil 12), shortening the prefix by one token and silently losing
    # exact recall. The 1e-9 pull-back restores the decimal ceiling
    # while leaving every non-crossing value unchanged.
    pref = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(float(threshold))
                                             * F.col("sz")
                                             - F.lit(1e-9)) + 1)
    pa = pref.select(F.col("doc_id").alias("doc_a"), "shingle",
                     F.col("sz").alias("sz_a"))
    pb = pref.select(F.col("doc_id").alias("doc_b"), "shingle",
                     F.col("sz").alias("sz_b"))
    # The length filter gets the same epsilon treatment: at the exact
    # boundary (|B| = t*|A| with B ⊂ A, J = t precisely) the IEEE
    # product t*|A| can exceed the integer |B| by 1 ulp and reject an
    # admissible pair.
    cand = (pa.join(pb, ["shingle"])
            .filter((F.col("doc_a") < F.col("doc_b"))
                    & (F.col("sz_b") * F.lit(float(threshold))
                       - F.lit(1e-9) <= F.col("sz_a"))
                    & (F.col("sz_a") * F.lit(float(threshold))
                       - F.lit(1e-9) <= F.col("sz_b")))
            .select("doc_a", "doc_b", "sz_a", "sz_b")
            .distinct())
    ca = sh.withColumnRenamed("doc_id", "doc_a")
    cb = (sh.withColumnRenamed("doc_id", "doc_b_r")
          .withColumnRenamed("shingle", "shingle_b"))
    inter = (cand.join(ca, "doc_a")
             .join(cb, (F.col("doc_b") == F.col("doc_b_r"))
                   & (F.col("shingle") == F.col("shingle_b")))
             .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
             .agg(F.count("*").alias("inter")))
    return (inter
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b")
                                  - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))
