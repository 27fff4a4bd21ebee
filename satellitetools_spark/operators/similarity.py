"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set, JVM-side dot products via ``zip_with``/``aggregate`` (no Python),
  window top-k per query. The baseline and the oracle-checkable path.
- :func:`ivf_topk` — the scale path: coarse quantization (IVF). Centroids
  are a deterministic sample; every vector is assigned to its nearest
  centroid once (one pass), queries probe only the ``nprobe`` closest
  centroid buckets. Recall < 1 by design; verified in tests against
  brute force.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    a_c = F.col(a).cast("array<double>")
    b_c = F.col(b).cast("array<double>")
    return df.withColumn(out, _dot(a_c, b_c) / (_norm(a_c) * _norm(b_c)))


def cosine_topk(emb: DataFrame, query_ids: List[int], k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self)."""
    queries = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    pairs = emb.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id"))
    pairs = with_cosine(pairs, "embedding", "qvec")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("cosine", 6).alias("cosine"))
    )


def cosine_topk_sql(query_ids: List[int], k: int = 10,
                    table: str = "embeddings") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM {table}
  WHERE vec_id IN ({ids})
),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))) AS cosine
  FROM {table} e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
FROM ranked WHERE rank <= {k}
"""


def _lloyd_refine(emb: DataFrame, centroids: DataFrame, iters: int,
                  id_col: str, vec_col: str) -> DataFrame:
    """Distributed Lloyd iterations over a sampled centroid seed.

    Each iteration: nearest-centroid assignment (broadcast cross join, same
    shape as the IVF assignment itself), then the elementwise bucket mean
    via ``posexplode`` + hash aggregation — the partial (map-side) agg
    reduces every partition to ``n_centroids x dim`` cells, so the shuffle
    is constant-size regardless of table size. Buckets that lose all
    vectors drop out (fewer, better-placed centroids).
    """
    for _ in range(iters):
        a = with_cosine(emb.crossJoin(F.broadcast(centroids)),
                        vec_col, "cvec", "ccos")
        w = Window.partitionBy(id_col).orderBy(F.desc("ccos"),
                                               F.asc("centroid_id"))
        a1 = (a.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select("centroid_id",
                      F.col(vec_col).cast("array<double>").alias("v")))
        centroids = (
            a1.select("centroid_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("centroid_id", "pos").agg(F.avg("val").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                 .alias("pm"))
            .select("centroid_id",
                    F.transform("pm", lambda s: s["m"]).alias("cvec")))
    return centroids


def ivf_topk(emb: DataFrame, query_ids: List[int], k: int = 10,
             n_centroids: int = 16, nprobe: int = 4, n_assign: int = 2,
             refine_iters: int = 0, seed_order: Optional[Column] = None,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-style approximate top-k: probe only the nprobe nearest centroid
    buckets per query.

    Centroids are a deterministic HASH-STRATIFIED sample: rank every vector
    by ``xxhash64(id)`` and take the first ``n_centroids`` — uniform over
    the dataset regardless of id assignment or ingestion order (taking the
    lowest ids instead collapses on clustered real data: ids correlate with
    insertion batches, so all centroids land in one region and most buckets
    sit empty). The global limit plans as TakeOrderedAndProject (per-
    partition top-K, merge on driver) — no full sort, scale-safe.

    ``n_assign`` > 1 replicates every vector into its ``n_assign`` nearest
    inverted lists (SPANN-style boundary spill): vectors near a Voronoi
    boundary — where probe misses concentrate — become reachable from
    either side, trading ``n_assign``x index size for recall.

    ``refine_iters`` > 0 runs that many distributed Lloyd (k-means)
    iterations on the sampled seed before building the index — bucket
    balance and recall improve on clustered data at the cost of one extra
    assignment pass per iteration (see :func:`_lloyd_refine`).

    ``seed_order`` overrides the hash column that ranks the seed sample
    (default ``xxhash64`` — JVM-fast, right at scale). The driver gate
    passes the portable polynomial hash instead and disables Lloyd, which
    makes the whole algorithm exact relational math that a DuckDB oracle
    reproduces verbatim (see :func:`ivf_topk_sql`); recall against brute
    force stays covered in pytest with the production defaults.
    """
    if seed_order is None:
        seed_order = F.xxhash64(F.col(id_col))
    centroids = (
        emb.orderBy(seed_order.asc(), F.col(id_col).asc())
        .limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec"))
    )
    if refine_iters:
        centroids = _lloyd_refine(emb, centroids, refine_iters,
                                  id_col, vec_col)
    # assign every vector to its n_assign nearest centroids (one broadcast pass)
    assigned = emb.crossJoin(F.broadcast(centroids))
    assigned = with_cosine(assigned, vec_col, "cvec", "ccos")
    w_assign = Window.partitionBy(id_col).orderBy(F.desc("ccos"), F.asc("centroid_id"))
    assigned = (
        assigned.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= n_assign)
        .select(id_col, vec_col, "centroid_id")
    )
    # queries probe their nprobe closest centroids
    queries = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    qc = queries.crossJoin(F.broadcast(centroids))
    qc = with_cosine(qc, "qvec", "cvec", "qcos")
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("centroid_id"))
    probes = (
        qc.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qvec", "centroid_id")
    )
    # search only vectors in probed buckets; a vector replicated into two
    # probed lists must be scored once (distinct on the candidate pair)
    cand = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", "qvec", id_col, vec_col)
        .dropDuplicates(["query_id", id_col])
    )
    cand = with_cosine(cand, vec_col, "qvec")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank",
                F.round("cosine", 6).alias("cosine"))
    )


def _cos_sql(a: str, b: str) -> str:
    return (f"(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
            f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
            f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))))")


def ivf_topk_sql(query_ids: List[int], k: int = 10, n_centroids: int = 16,
                 nprobe: int = 4, n_assign: int = 2,
                 seed_order_sql: str = None,
                 table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`ivf_topk` with a portable ``seed_order``
    and ``refine_iters=0`` — under those settings IVF is exact relational
    math (hash-ranked seed, argmin assignment, nprobe probe, top-k), so
    the oracle reproduces the algorithm verbatim rather than checking
    recall (recall vs brute force stays in pytest). Dot products fold
    left-to-right in both engines (parity established by the
    ``cosine_topk`` gate)."""
    from .sampling import portable_hash_sql
    ids = ", ".join(str(i) for i in query_ids)
    seed = seed_order_sql or portable_hash_sql("vec_id")
    return f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM {table}
  ORDER BY {seed} ASC, vec_id ASC
  LIMIT {n_centroids}
),
acand AS (
  SELECT e.vec_id, c.centroid_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_cos_sql("e.embedding", "c.cvec")} DESC,
                    c.centroid_id ASC) AS rn
  FROM {table} e CROSS JOIN cent c
),
assigned AS (SELECT vec_id, centroid_id FROM acand WHERE rn <= {n_assign}),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM {table}
  WHERE vec_id IN ({ids})
),
pcand AS (
  SELECT q.query_id, c.centroid_id,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY {_cos_sql("q.qvec", "c.cvec")} DESC,
                    c.centroid_id ASC) AS rn
  FROM q CROSS JOIN cent c
),
probes AS (SELECT query_id, centroid_id FROM pcand WHERE rn <= {nprobe}),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM assigned a JOIN probes p USING (centroid_id)
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id AS neighbor_id,
         {_cos_sql("e.embedding", "q.qvec")} AS cosine
  FROM cand c
  JOIN {table} e ON e.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
FROM ranked WHERE rank <= {k}
"""


# executor-local memo: (dim, num_bits, seed) -> hyperplane matrix
_HYPERPLANES: Dict[Tuple[int, int, int], np.ndarray] = {}


def _hyperplanes(dim: int, num_bits: int, seed: int) -> np.ndarray:
    key = (dim, num_bits, seed)
    H = _HYPERPLANES.get(key)
    if H is None:
        H = np.random.RandomState(seed).randn(num_bits, dim)
        _HYPERPLANES[key] = H
    return H


def rh_signature(emb: DataFrame) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) signature: bit j =
    sign(<v, h_j>) for 64 seeded gaussian hyperplanes (seed 7), packed
    into one int64. One Arrow-batched matmul per batch; hyperplanes are
    generated deterministically inside each executor (no driver state)."""
    @pandas_udf(T.LongType())
    def sig_udf(vecs: pd.Series) -> pd.Series:
        X = np.vstack([np.asarray(v, dtype=float) for v in vecs])
        H = _hyperplanes(X.shape[1], 64, 7)
        bits = (X @ H.T) >= 0.0
        shifts = np.arange(64, dtype=np.uint64)
        packed = np.bitwise_or.reduce(
            bits.astype(np.uint64) << shifts[None, :], axis=1)
        return pd.Series(packed.astype(np.int64))

    return emb.select("vec_id", "embedding",
                      sig_udf(F.col("embedding")).alias("rh_sig"))


def rh_lsh_pairs(emb: DataFrame, threshold: float, bands: int = 32) -> DataFrame:
    """Near-duplicate vector pairs at scale: random-hyperplane LSH banding
    → candidate pairs where a band collides → EXACT cosine verification —
    the vector analog of ``dedup.minhash_lsh_pairs``, same contract: output
    equals the brute-force ``cosine >= threshold`` pair join up to LSH
    recall.

    Recall/selectivity is set by the banding. Per-bit disagreement
    probability for a pair at angle θ is θ/π, so a band of r bits collides
    with (1-θ/π)^r and a pair is missed with (1-(1-θ/π)^r)^bands:

    - defaults (32 bands x 2 bits) are sized for RECALL: miss ≤ 1e-8 even
      at cosine 0.45 (θ/π ≈ 0.34) — but near-orthogonal non-dups then
      collide somewhere too, so candidate pruning is weak. This is the
      honest regime for low thresholds on isotropic vectors: LSH cannot be
      simultaneously selective and lossless there.
    - production near-dup mining (threshold ≥ 0.8, θ/π ≤ 0.2) should use
      16 bands x 4 bits: miss ≤ 3e-4, candidates ~6% of random pairs —
      the selectivity that makes 10^12-row mining feasible.

    The exact verification join keeps precision at 1.0 in every regime.
    """
    rows = 64 // bands
    sig = rh_signature(emb)
    blocks = [
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("rh_sig", rows * b)
                 .bitwiseAND(F.lit((1 << rows) - 1)).alias("key"))
        for b in range(bands)
    ]
    bt = sig.select("vec_id", F.explode(F.array(*blocks)).alias("bb")) \
        .select("vec_id", "bb.band", "bb.key")
    cand = (
        bt.alias("a").join(
            bt.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_id_a"),
                F.col("b.vec_id").alias("vec_id_b"))
        .distinct()
    )
    va = emb.select(F.col("vec_id").alias("vec_id_a"),
                    F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("vec_id_b"),
                    F.col("embedding").alias("vb"))
    verified = with_cosine(cand.join(va, "vec_id_a").join(vb, "vec_id_b"),
                           "va", "vb")
    return (verified.filter(F.col("cosine") >= threshold)
            .select("vec_id_a", "vec_id_b",
                    F.round("cosine", 6).alias("cosine")))


def embedding_moments(emb: DataFrame) -> Tuple[int, np.ndarray, np.ndarray]:
    """Distributed first/second moments of an embedding column: returns
    ``(n, sum_vector, gram_matrix)`` with the Gram = Σ x xᵀ accumulated
    NumPy-side per partition (one d + d² array row per PARTITION, not per
    vector), then reduced relationally by a posexplode + component sum.
    Driver traffic is O(d²) — independent of row count, the shape that
    survives 10^12 rows. float32 inputs are widened to float64 before any
    accumulation (matches the oracle's CAST(FLOAT AS DOUBLE)).
    """
    schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("s", T.ArrayType(T.DoubleType())),
        T.StructField("g", T.ArrayType(T.DoubleType())),
    ])

    def partials(batches):
        n = 0
        s = None
        g = None
        for pdf in batches:
            X = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf["embedding"]])
            n += X.shape[0]
            s = X.sum(0) if s is None else s + X.sum(0)
            gg = X.T @ X
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                                "g": [g.ravel().tolist()]})

    part = emb.select("embedding").mapInPandas(partials, schema)
    # ONE pass over the embeddings: pack [n] ++ s ++ g into a single
    # array so count, sum-vector, and Gram reduce in the same
    # posexplode-sum job (round 2 executed the mapInPandas subtree three
    # times — once per component). Collect is (1 + d + d²) tiny rows.
    packed = part.select(F.posexplode(
        F.concat(F.array(F.col("n").cast("double")),
                 F.col("s"), F.col("g"))).alias("i", "v"))
    comp = (packed.groupBy("i").agg(F.sum("v").alias("v"))
                  .orderBy("i").collect())
    flat = np.array([r.v for r in comp])
    if flat.size == 0:
        return 0, np.array([]), np.zeros((0, 0))
    d = int(round((math.sqrt(4 * (flat.size - 1) + 1) - 1) / 2))
    n_total = int(round(flat[0]))
    s = flat[1:1 + d]
    g = flat[1 + d:]
    return n_total, s, g.reshape(d, d)


def covariance_matrix(emb: DataFrame) -> Tuple[int, np.ndarray, np.ndarray]:
    """(n, mean, covariance) from :func:`embedding_moments`;
    population covariance C = G/n − μμᵀ."""
    n, s, g = embedding_moments(emb)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    return n, mu, cov


def covariance_entries(emb: DataFrame) -> DataFrame:
    """The covariance matrix as (i, j, cov) rows — the oracle-checkable
    surface of the moment pass (the eigensolve itself is not relational
    algebra; its inputs are)."""
    spark = emb.sparkSession
    _, _, cov = covariance_matrix(emb)
    d = cov.shape[0]
    rows = [(i, j, round(float(cov[i, j]), 6))
            for i in range(d) for j in range(d)]
    return spark.createDataFrame(rows, "i int, j int, cov double")


def covariance_entries_sql(table: str = "embeddings",
                           vec_col: str = "embedding", dim: int = 64,
                           digits: int = 6) -> str:
    """DuckDB oracle: the naive relational form — explode components,
    pair-join on vec_id, aggregate Σxixj/n − μiμj. Quadratic in d per
    row (gate-scale only); the engine's NumPy partial-Gram path computes
    the same sums without materializing pairs."""
    return f"""
WITH x AS (
  SELECT vec_id, r.i, CAST({vec_col}[r.i + 1] AS DOUBLE) AS xi
  FROM {table}, range({dim}) r(i)
),
mu AS (SELECT i, AVG(xi) AS m FROM x GROUP BY i),
pairs AS (
  SELECT a.i AS i, b.i AS j, SUM(a.xi * b.xi) / COUNT(*) AS exixj
  FROM x a JOIN x b USING (vec_id) GROUP BY a.i, b.i
)
SELECT p.i, p.j, ROUND(p.exixj - ma.m * mb.m, {digits}) AS cov
FROM pairs p JOIN mu ma ON p.i = ma.i JOIN mu mb ON p.j = mb.i
"""


def _sq_dist(a, b):
    """Squared L2 via the norm-dot identity ``a·a + b·b − 2·a·b`` — three
    left-fold dots, the exact op sequence the DuckDB oracle's
    ``list_dot_product`` uses, so distances are bit-comparable across
    engines (a zip-subtract-square fold would associate differently)."""
    return _dot(a, a) + _dot(b, b) - F.lit(2.0) * _dot(a, b)


# embedding width the product quantizer splits into subspaces
PQ_DIM = 64


def pq_encode(emb: DataFrame, m: int = 8,
              seed_order: Optional[Column] = None
              ) -> Tuple[DataFrame, DataFrame]:
    """Product quantization (Jégou et al., TPAMI'11): split each vector
    into ``m`` subspaces and store only the id of the nearest of 16
    sub-codebook centroids per subspace — ``m·4`` bits per vector instead of
    ``PQ_DIM·32``, the compression that makes billion-scale ANN candidate
    scoring RAM-resident.

    Codebooks are the hash-stratified seed sample's subvectors (same
    deterministic scheme as :func:`ivf_topk`; pass ``seed_order`` =
    portable hash for the oracle-exact variant). Encoding is one
    broadcast cross join (|emb| × 16 rows) computing all ``m`` subspace
    distances per pair JVM-side — squared L2 via :func:`_sq_dist` so the
    argmin is engine-portable — then a per-(vector, subspace) min-struct
    pick and one ``array_sort(collect_list)`` reassembly into the code
    array. Two keyed aggregations, both on vector-id cardinality; no
    Python.

    Returns ``(codes, cent)``: codes (vec_id, codes array<int>[m]) and
    the centroid table to score against.
    """
    if PQ_DIM % m:
        raise ValueError("pq_encode: PQ_DIM must divide into m subspaces")
    dsub = PQ_DIM // m
    if seed_order is None:
        seed_order = F.xxhash64(F.col("vec_id"))
    cent = (emb.orderBy(seed_order.asc(), F.col("vec_id").asc())
               .limit(16)
               .select(F.col("vec_id").alias("centroid_id"),
                       F.col("embedding").cast("array<double>").alias("cvec")))
    pairs = (emb.select("vec_id",
                        F.col("embedding").cast("array<double>").alias("v"))
                .crossJoin(F.broadcast(cent)))
    sub = F.explode(F.array(*[
        F.struct(
            F.lit(s).alias("s"),
            _sq_dist(F.slice(F.col("v"), s * dsub + 1, dsub),
                     F.slice(F.col("cvec"), s * dsub + 1, dsub))
            .alias("dsq"))
        for s in range(m)])).alias("_d")
    d = pairs.select("vec_id", "centroid_id", sub).select(
        "vec_id", "centroid_id", F.col("_d.s").alias("s"),
        F.col("_d.dsq").alias("dsq"))
    best = (d.groupBy("vec_id", "s")
             .agg(F.min(F.struct("dsq", "centroid_id")).alias("b"))
             .select("vec_id", "s", F.col("b.centroid_id").alias("code")))
    codes = (best.groupBy("vec_id")
                 .agg(F.array_sort(F.collect_list(F.struct("s", "code")))
                       .alias("sc"))
                 .select("vec_id",
                         F.transform("sc", lambda x: x["code"])
                          .alias("codes")))
    return codes, cent


def pq_topk(emb: DataFrame, query_ids: List[int],
            m: int = 8, rerank: int = 0,
            seed_order: Optional[Column] = None
            ) -> DataFrame:
    """Asymmetric-distance (ADC) top-10 over PQ codes: the query stays
    exact; every database vector is scored as the sum of its ``m``
    precomputed query↔centroid subspace distances — a table lookup per
    subspace, never a full d-dim dot product per candidate.

    The distance table (queries × m × 16 rows — KBs) broadcasts to the
    codes join; the sum-over-subspaces is one hash aggregation keyed on
    (query, vector) and the top-10 a per-query window. Approximation error
    comes only from quantizing the database side (asymmetric), verified
    in pytest as recall vs brute force; with the portable seed the whole
    pipeline is exact relational math with a verbatim DuckDB oracle.

    ``rerank`` > 0 enables the standard two-stage retrieval: the ADC
    pass produces a top-``rerank`` SHORTLIST per query (cheap — table
    lookups over compressed codes), and only those candidates get exact
    full-dimension cosine scoring (output column ``cosine``). Recall is
    then bounded by shortlist membership, not quantization ranking —
    measured ≥0.8@10 with rerank=100 on the clustered test embeddings —
    while the exact pass touches ``rerank`` vectors per query instead of
    the whole table. With ``rerank=0`` the raw ADC ranking is returned
    (column ``adist``), which is the oracle-checked surface.
    """
    dsub = PQ_DIM // m
    codes, cent = pq_encode(emb, m, seed_order)
    queries = (emb.filter(F.col("vec_id").isin(query_ids))
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").cast("array<double>")
                           .alias("qv")))
    qsub = F.explode(F.array(*[
        F.struct(
            F.lit(s).alias("s"),
            _sq_dist(F.slice(F.col("qv"), s * dsub + 1, dsub),
                     F.slice(F.col("cvec"), s * dsub + 1, dsub))
            .alias("dsq"))
        for s in range(m)])).alias("_d")
    qdist = (queries.crossJoin(F.broadcast(cent))
                    .select("query_id", "centroid_id", qsub)
                    .select("query_id", "centroid_id",
                            F.col("_d.s").alias("s"),
                            F.col("_d.dsq").alias("dsq")))
    ccode = codes.select(
        "vec_id", F.posexplode("codes").alias("s", "centroid_id"))
    scored = (ccode.join(F.broadcast(qdist), ["s", "centroid_id"])
                   .filter(F.col("vec_id") != F.col("query_id"))
                   .groupBy("query_id", "vec_id")
                   .agg(F.sum("dsq").alias("adist")))
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"),
                                               F.asc("vec_id"))
    if not rerank:
        return (scored.withColumn("rank", F.row_number().over(w))
                      .filter(F.col("rank") <= 10)
                      .select("query_id",
                              F.col("vec_id").alias("neighbor_id"),
                              "rank", F.round("adist", 6).alias("adist")))
    short = (scored.withColumn("rn", F.row_number().over(w))
                   .filter(F.col("rn") <= rerank)
                   .select("query_id", "vec_id"))
    exact = (short.join(emb.select("vec_id", "embedding"), "vec_id")
                  .join(F.broadcast(queries), "query_id"))
    exact = with_cosine(exact, "embedding", "qv")
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                                F.asc("vec_id"))
    return (exact.withColumn("rank", F.row_number().over(w2))
                 .filter(F.col("rank") <= 10)
                 .select("query_id", F.col("vec_id").alias("neighbor_id"),
                         "rank", F.round("cosine", 6).alias("cosine")))


def _sqd_sql(a: str, b: str) -> str:
    return (f"(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
            f" - 2.0 * list_dot_product({a}, {b}))")


def pq_topk_sql(query_ids: List[int], k: int = 10, m: int = 8,
                ksub: int = 16, dim: int = 64,
                seed_order_sql: str = None,
                table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`pq_topk` with the portable seed —
    verbatim re-run of encode + ADC as relational algebra (recall vs
    brute force stays a pytest property)."""
    from .sampling import portable_hash_sql
    dsub = dim // m
    ids = ", ".join(str(i) for i in query_ids)
    seed = seed_order_sql or portable_hash_sql("vec_id")

    def sub(col, s):
        return f"({col}::DOUBLE[])[{s * dsub + 1}:{(s + 1) * dsub}]"

    enc_rows = "\nUNION ALL\n".join(
        f"SELECT e.vec_id, c.centroid_id, {s} AS s, "
        f"{_sqd_sql(sub('e.embedding', s), sub('c.cvec', s))} AS dsq "
        f"FROM {table} e CROSS JOIN cent c" for s in range(m))
    q_rows = "\nUNION ALL\n".join(
        f"SELECT q.query_id, c.centroid_id, {s} AS s, "
        f"{_sqd_sql(sub('q.qv', s), sub('c.cvec', s))} AS dsq "
        f"FROM q CROSS JOIN cent c" for s in range(m))
    return f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM {table} ORDER BY {seed} ASC, vec_id ASC LIMIT {ksub}
),
enc AS ({enc_rows}),
codes AS (
  SELECT vec_id, s, centroid_id FROM (
    SELECT vec_id, s, centroid_id,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dsq ASC, centroid_id ASC) AS rn
    FROM enc) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM {table}
      WHERE vec_id IN ({ids})),
qdist AS ({q_rows}),
scored AS (
  SELECT d.query_id, c.vec_id, SUM(d.dsq) AS adist
  FROM codes c JOIN qdist d USING (s, centroid_id)
  WHERE c.vec_id <> d.query_id
  GROUP BY d.query_id, c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adist ASC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id AS neighbor_id, rank, ROUND(adist, 6) AS adist
FROM ranked WHERE rank <= {k}
"""


def rrf_fuse(rankings: List[DataFrame], k: int = 10) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09): merge any
    number of rankings — BM25, dense ANN, recency — by summing
    ``1/(60 + rank)`` per candidate; rank-based, so incomparable
    scores (lexical vs cosine) fuse without calibration. The standard
    hybrid-retrieval combiner.

    Each input needs (doc_id, rank). Missing candidates simply
    contribute nothing. One union of top-R tables (tiny), one hash agg,
    one TakeOrderedAndProject — driver-free and independent of corpus
    size because inputs are already top-R."""
    parts = [r.select(F.col("doc_id").alias("fid"),
                      (1.0 / (F.lit(60.0) + F.col("rank")))
                      .alias("c"))
             for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    out = (u.groupBy("fid")
            .agg(F.round(F.sum("c"), 9).alias("rrf_score"),
                 F.count("*").alias("n_rankers")))
    return (out.orderBy(F.desc("rrf_score"), F.asc("fid")).limit(k)
               .select(F.col("fid").alias("doc_id"), "rrf_score",
                       "n_rankers"))


def rrf_fuse_sql(ranking_sqls: List[str], k: int = 10, k_rrf: int = 60,
                 id_col: str = "doc_id", rank_col: str = "rank") -> str:
    """DuckDB oracle: UNION ALL of the contribution subqueries + the
    identical fold. Each entry of ``ranking_sqls`` must yield
    (id_col, rank_col)."""
    parts = "\nUNION ALL\n".join(
        f"SELECT {id_col} AS fid, 1.0 / ({float(k_rrf)!r} + {rank_col}) "
        f"AS c FROM ({s}) rrf_in_{i}"
        for i, s in enumerate(ranking_sqls))
    return f"""
WITH contrib AS ({parts}),
fused AS (
  SELECT fid, ROUND(SUM(c), 9) AS rrf_score, COUNT(*) AS n_rankers
  FROM contrib GROUP BY fid
)
SELECT fid AS {id_col}, rrf_score, n_rankers
FROM fused ORDER BY rrf_score DESC, fid ASC LIMIT {k}
"""


def _centroid_arrays(emb: DataFrame, vec_col: str,
                     label_col: str) -> DataFrame:
    """Per-label centroid as an array column: posexplode → (label, pos)
    hash agg (map-side combinable) → re-assemble in pos order. Output
    is k rows — broadcastable regardless of input scale."""
    ex = emb.select(F.col(label_col).alias("label_c"),
                    F.posexplode(vec_col).alias("pos", "val"))
    cen = ex.groupBy("label_c", "pos").agg(F.avg("val").alias("c"))
    return (cen.groupBy("label_c")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"]).alias("cen")))


def label_silhouette(emb: DataFrame) -> DataFrame:
    """Simplified (centroid-based) silhouette per vector:
    a = distance to the own-label centroid, b = distance to the nearest
    OTHER centroid, s = (b − a) / max(a, b) ∈ [−1, 1]. The medoid-free
    variant that scales — full silhouette is O(n²), this is O(n·k).

    Shape: centroids are k tiny rows (broadcast); each vector crosses
    them map-only (k-fanout), then ONE conditional min-agg back at
    vector cardinality. The component fold inside ``aggregate`` runs
    left-to-right — deterministic float order.
    """
    cen = _centroid_arrays(emb, "embedding", "label")
    j = (emb.select("vec_id", "label", F.col("embedding").alias("_v"))
         .crossJoin(F.broadcast(cen)))
    d2 = F.aggregate(
        F.zip_with("_v", "cen", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    per = (j.withColumn("_d2", d2)
           .groupBy("vec_id", "label")
           .agg(F.min(F.when(F.col("label_c") == F.col("label"),
                             F.col("_d2"))).alias("_a2"),
                F.min(F.when(F.col("label_c") != F.col("label"),
                             F.col("_d2"))).alias("_b2")))
    a, b = F.sqrt("_a2"), F.sqrt("_b2")
    return per.select(
        "vec_id", "label",
        (F.round(a, 6) + 0.0).alias("dist_own"),
        (F.round(b, 6) + 0.0).alias("dist_other"),
        (F.round((b - a) / F.greatest(a, b), 6) + 0.0)
        .alias("silhouette"))


def label_silhouette_sql(table: str = "embeddings",
                         vec_col: str = "embedding",
                         label_col: str = "label",
                         dim: int = 64) -> str:
    """DuckDB oracle: explode via range({dim}), per-(label,pos) AVG
    centroids, relational distance join, identical readout."""
    return f"""
WITH slx AS (
  SELECT vec_id, {label_col} AS label, r.i,
         CAST({vec_col}[r.i + 1] AS DOUBLE) AS xi
  FROM {table}, range({dim}) r(i)
),
slc AS (
  SELECT label AS label_c, i, AVG(xi) AS c FROM slx GROUP BY label, i
),
sld AS (
  SELECT x.vec_id, x.label, c.label_c,
         SUM((x.xi - c.c) * (x.xi - c.c)) AS d2
  FROM slx x JOIN slc c USING (i)
  GROUP BY x.vec_id, x.label, c.label_c
),
slp AS (
  SELECT vec_id, label,
         MIN(CASE WHEN label_c = label THEN d2 END) AS a2,
         MIN(CASE WHEN label_c <> label THEN d2 END) AS b2
  FROM sld GROUP BY vec_id, label
)
SELECT vec_id, label,
       ROUND(SQRT(a2), 6) + 0.0 AS dist_own,
       ROUND(SQRT(b2), 6) + 0.0 AS dist_other,
       ROUND((SQRT(b2) - SQRT(a2))
             / GREATEST(SQRT(a2), SQRT(b2)), 6) + 0.0 AS silhouette
FROM slp
"""


def cluster_validity(emb: DataFrame) -> DataFrame:
    """Calinski–Harabasz cluster-validity index of a labeling:
    CH = (between-SS / (k−1)) / (within-SS / (n−k)) — the
    variance-ratio criterion for "are these clusters real".
    within-SS = Σᵢ‖xᵢ − c_label(i)‖², between-SS = Σ_l n_l‖c_l − c̄‖².

    Shape: everything reduces through the (label, pos) centroid table
    (k·d rows) — the only row-cardinality pass is the within-SS
    distance agg, computed map-side against broadcast centroids.
    """
    cen = _centroid_arrays(emb, "embedding", "label")
    base = emb.select("vec_id", "label", F.col("embedding").alias("_v"))
    j = base.join(F.broadcast(cen),
                  base.label == cen.label_c)
    d2 = F.aggregate(
        F.zip_with("_v", "cen", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    within = j.agg(F.sum(d2).alias("_wss"),
                   F.count("*").cast("long").alias("n_vecs"))
    sizes = base.groupBy("label").agg(F.count("*").cast("long")
                                      .alias("_nl"))
    gl = (emb.select(F.posexplode("embedding").alias("pos", "val"))
          .groupBy("pos").agg(F.avg("val").alias("g")))
    gcen = gl.groupBy().agg(F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "g"))),
        lambda s: s["g"]).alias("gcen"))
    bt = (cen.join(F.broadcast(sizes),
                   cen.label_c == sizes.label)
          .crossJoin(F.broadcast(gcen)))
    bd2 = F.aggregate(
        F.zip_with("cen", "gcen", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    between = bt.agg(F.sum(F.col("_nl") * bd2).alias("_bss"),
                     F.count("*").cast("long").alias("k_labels"))
    out = within.crossJoin(F.broadcast(between))
    ch = ((F.col("_bss") / (F.col("k_labels") - 1.0))
          / (F.col("_wss") / (F.col("n_vecs") - F.col("k_labels"))))
    return out.select(
        "n_vecs", "k_labels",
        (F.round("_wss", 4) + 0.0).alias("within_ss"),
        (F.round("_bss", 4) + 0.0).alias("between_ss"),
        (F.round(ch, 6) + 0.0).alias("calinski_harabasz"))


def cluster_validity_sql(table: str = "embeddings",
                         vec_col: str = "embedding",
                         label_col: str = "label",
                         dim: int = 64) -> str:
    """DuckDB oracle: same centroid/global-mean tables in long form,
    same SS sums and variance ratio."""
    return f"""
WITH cvx AS (
  SELECT vec_id, {label_col} AS label, r.i,
         CAST({vec_col}[r.i + 1] AS DOUBLE) AS xi
  FROM {table}, range({dim}) r(i)
),
cvc AS (SELECT label, i, AVG(xi) AS c FROM cvx GROUP BY label, i),
cvg AS (SELECT i, AVG(xi) AS g FROM cvx GROUP BY i),
wss AS (
  SELECT SUM((x.xi - c.c) * (x.xi - c.c)) AS w,
         CAST(COUNT(DISTINCT x.vec_id) AS BIGINT) AS n_vecs
  FROM cvx x JOIN cvc c ON x.label = c.label AND x.i = c.i
),
szs AS (
  SELECT label, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS nl
  FROM cvx GROUP BY label
),
bss AS (
  SELECT SUM(s.nl * (c.c - g.g) * (c.c - g.g)) AS b,
         CAST(COUNT(DISTINCT c.label) AS BIGINT) AS k_labels
  FROM cvc c JOIN cvg g USING (i) JOIN szs s USING (label)
)
SELECT n_vecs, k_labels,
       ROUND(w, 4) + 0.0 AS within_ss,
       ROUND(b, 4) + 0.0 AS between_ss,
       ROUND((b / (k_labels - 1.0)) / (w / (n_vecs - k_labels)), 6)
         + 0.0 AS calinski_harabasz
FROM wss CROSS JOIN bss
"""


def mmr_select(emb: DataFrame, query_id: int, k: int = 5,
               lam: float = 0.7, pool: int = 50) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell–Goldstein): pick
    ``k`` results that balance relevance to the query against
    redundancy with what is already picked —
    score = λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s). THE
    diversity re-ranker for RAG context assembly and dedup-aware
    retrieval.

    Shape: the candidate pool (top-``pool`` by cosine, rank-stable via
    round-6 + id tie-break) is computed ONCE and lazily checkpointed —
    the k−1 refinement steps are unrolled into one lazy plan (anti-join
    the selected ids, broadcast the ≤k selected vectors, one max-agg,
    1-row TakeOrderedAndProject argmax each) with ZERO driver collects.
    Every comparison runs on round-6 scores, so engine and oracle pick
    identical argmaxes without relying on float-sum associativity.
    """
    lam = float(lam)
    q = (emb.filter(F.col("vec_id") == query_id)
         .select(F.col("embedding").alias("_qv")))
    cand = (emb.filter(F.col("vec_id") != query_id)
            .crossJoin(F.broadcast(q))
            .select("vec_id", F.col("embedding").alias("_v"),
                    (F.round(_dot(F.col("embedding").cast("array<double>"),
                                  F.col("_qv").cast("array<double>"))
                             / (_norm(F.col("embedding")
                                      .cast("array<double>"))
                                * _norm(F.col("_qv")
                                        .cast("array<double>"))), 6)
                     + 0.0).alias("rel"))
            .orderBy(F.desc("rel"), F.asc("vec_id")).limit(int(pool))
            .localCheckpoint(eager=False))
    sel = (cand.orderBy(F.desc("rel"), F.asc("vec_id")).limit(1)
           .select("vec_id", "_v", "rel",
                   (F.round(F.lit(lam) * F.col("rel"), 6) + 0.0)
                   .alias("score"),
                   F.lit(1).alias("rank")))
    for step in range(2, int(k) + 1):
        rem = cand.join(sel.select("vec_id"), "vec_id", "left_anti")
        sims = (rem.crossJoin(F.broadcast(
                    sel.select(F.col("_v").alias("_sv"))))
                .select("vec_id", "_v", "rel",
                        (F.round(_dot(F.col("_v").cast("array<double>"),
                                      F.col("_sv")
                                      .cast("array<double>"))
                                 / (_norm(F.col("_v")
                                          .cast("array<double>"))
                                    * _norm(F.col("_sv")
                                            .cast("array<double>"))),
                                 6) + 0.0).alias("_s"))
                .groupBy("vec_id", "_v", "rel")
                .agg(F.max("_s").alias("_ms")))
        pick = (sims.select(
                    "vec_id", "_v", "rel",
                    (F.round(F.lit(lam) * F.col("rel")
                             - F.lit(1.0 - lam) * F.col("_ms"), 6)
                     + 0.0).alias("score"))
                .orderBy(F.desc("score"), F.asc("vec_id")).limit(1)
                .withColumn("rank", F.lit(step)))
        sel = sel.unionByName(pick)
    return sel.select("rank", "vec_id", "rel", "score")


def mmr_select_sql(query_id: int, k: int = 5, lam: float = 0.7,
                   pool: int = 50, table: str = "embeddings",
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> str:
    """DuckDB oracle: the same greedy unrolled k layers (candidate CTE,
    per-step NOT-IN + max-sim + argmax), every comparison on round-6
    scores."""
    lam = float(lam)
    cos_q = _cos_sql(f"c.{vec_col}", "q.qv")
    layers = [f"""
mmq AS (SELECT {vec_col} AS qv FROM {table}
        WHERE {id_col} = {int(query_id)}),
mmc AS (
  SELECT c.{id_col} AS vec_id, c.{vec_col} AS v,
         ROUND({cos_q}, 6) + 0.0 AS rel
  FROM {table} c, mmq q WHERE c.{id_col} <> {int(query_id)}
  ORDER BY rel DESC, c.{id_col} ASC LIMIT {int(pool)}
),
mms1 AS (
  SELECT vec_id, v, rel, ROUND({lam!r} * rel, 6) + 0.0 AS score,
         1 AS rank
  FROM mmc ORDER BY rel DESC, vec_id ASC LIMIT 1
)"""]
    cos_s = _cos_sql("c.v", "s.v")
    for step in range(2, int(k) + 1):
        prev = f"mms{step - 1}"
        layers.append(f"""
mmp{step} AS (
  SELECT c.vec_id, c.v, c.rel,
         MAX(ROUND({cos_s}, 6) + 0.0) AS ms
  FROM mmc c CROSS JOIN {prev} s
  WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY c.vec_id, c.v, c.rel
),
mms{step} AS (
  SELECT * FROM {prev}
  UNION ALL
  SELECT vec_id, v, rel,
         ROUND({lam!r} * rel - {1.0 - lam!r} * ms, 6) + 0.0 AS score,
         {step} AS rank
  FROM (SELECT * FROM mmp{step}
        ORDER BY ROUND({lam!r} * rel - {1.0 - lam!r} * ms, 6) + 0.0
                 DESC, vec_id ASC
        LIMIT 1)
)""")
    body = "WITH " + ",".join(layers)
    return (f"{body}\n"
            f"SELECT CAST(rank AS INT) AS rank, vec_id, rel, score "
            f"FROM mms{int(k)}")


def label_outliers(emb: DataFrame) -> DataFrame:
    """Mislabel / contamination candidates: vectors whose distance to
    their OWN label centroid is a per-label z-score outlier
    (z = (d − μ_label)/σ_label > 2). The embedding-space twin
    of MAD anomaly — cheap triage before manual relabeling or
    quarantine. Distances come from the round-6
    :func:`label_silhouette` surface, so both engines threshold
    identical inputs.

    Shape: silhouette's broadcast-centroid pass + ONE label-cardinality
    moment agg broadcast back; the fact rows never shuffle again.
    """
    sil = label_silhouette(emb)
    mom = (sil.groupBy("label")
           .agg(F.avg("dist_own").alias("_mu"),
                F.stddev_pop("dist_own").alias("_sd")))
    z = (F.col("dist_own") - F.col("_mu")) / F.when(F.col("_sd") > 0,
                                                    F.col("_sd"))
    return (sil.join(F.broadcast(mom), "label")
            .withColumn("z", F.round(z, 6) + 0.0)
            .filter(F.col("z") > 2.0)
            .select("label", "vec_id", "dist_own", "silhouette", "z"))


def label_outliers_sql(table: str = "embeddings",
                       vec_col: str = "embedding",
                       label_col: str = "label", dim: int = 64,
                       z_threshold: float = 2.0) -> str:
    """DuckDB oracle: silhouette CTE + identical per-label moments and
    threshold."""
    sil = label_silhouette_sql(table, vec_col=vec_col,
                               label_col=label_col, dim=dim)
    return f"""
WITH los AS (SELECT * FROM ({sil})),
lom AS (
  SELECT label, AVG(dist_own) AS mu, STDDEV_POP(dist_own) AS sd
  FROM los GROUP BY label
)
SELECT s.label, s.vec_id, s.dist_own, s.silhouette,
       ROUND((s.dist_own - m.mu)
             / (CASE WHEN m.sd > 0 THEN m.sd END), 6) + 0.0 AS z
FROM los s JOIN lom m ON m.label = s.label
WHERE ROUND((s.dist_own - m.mu)
            / (CASE WHEN m.sd > 0 THEN m.sd END), 6) + 0.0
      > {float(z_threshold)!r}
"""


# ---------------------------------------------------------------------------
# Retrieval-quality metrics: precision@k / MRR / NDCG@k, and ANN recall
# ---------------------------------------------------------------------------

def retrieval_metrics(emb: DataFrame, query_ids: List[int],
                      k: int = 10) -> DataFrame:
    """Label-relevance audit of exact cosine top-k retrieval: for each
    query, with rel(doc) = [label(doc) = label(query)], the standard
    ranking metrics — precision@k, reciprocal rank of the first
    relevant hit (the MRR numerator), DCG@k = Σ rel/log₂(rank+1), the
    ideal DCG over min(k, R) positions where R = the query's total
    relevant corpus size (own-label count minus self), and NDCG@k.
    The "does nearest-neighbor search actually retrieve same-class
    items" readout an embedding-quality pipeline runs before trusting
    ANN dedup or dataset balancing.

    Shape: the top-k table is k·|Q| rows, so neighbor labels come from
    ONE broadcast of the top-k INTO the label projection (the big side
    is never shuffled); R comes from the label-histogram (one hash
    agg) broadcast-joined to the |Q| query rows. IDCG's fold runs over
    a ≤k-element `sequence` per query row — JVM expression, identical
    `aggregate` fold in DuckDB.
    """
    topk = cosine_topk(emb, query_ids, k)
    qlab = (emb.filter(F.col("vec_id").isin(query_ids))
            .select(F.col("vec_id").alias("query_id"),
                    F.col("label").alias("qlabel")))
    nlab = emb.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("label").alias("nlabel"))
    j = (nlab.join(F.broadcast(topk), "neighbor_id")
         .join(F.broadcast(qlab), "query_id")
         .withColumn("rel", (F.col("nlabel") == F.col("qlabel"))
                     .cast("double")))
    per_q = (j.groupBy("query_id", "qlabel")
             .agg(F.sum("rel").alias("hits"),
                  F.sum(F.col("rel")
                        / F.log2(F.col("rank") + 1.0)).alias("dcg"),
                  F.min(F.when(F.col("rel") == 1.0, F.col("rank")))
                  .alias("first_rel")))
    lab_counts = (emb.groupBy(F.col("label").alias("qlabel"))
                  .agg(F.count("*").cast("double").alias("lc")))
    g = (per_q.join(F.broadcast(lab_counts), "qlabel")
         .withColumn("n_rel", F.col("lc") - 1.0))
    idcg = F.aggregate(
        F.sequence(F.lit(1),
                   F.least(F.lit(k), F.col("n_rel").cast("int"))),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0))
    rr = F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0))
    return (g.withColumn("idcg", idcg)
            .select(
                "query_id",
                F.col("n_rel").cast("long").alias("n_rel"),
                F.col("hits").cast("long").alias("hits"),
                (F.round(F.col("hits") / float(k), 6) + 0.0)
                .alias("precision_k"),
                (F.round(rr, 6) + 0.0).alias("rr"),
                (F.round(F.col("dcg"), 6) + 0.0).alias("dcg"),
                (F.round(F.col("idcg"), 6) + 0.0).alias("idcg"),
                (F.round(F.when(F.col("idcg") > 0,
                                F.col("dcg") / F.col("idcg"))
                         .otherwise(0.0), 6) + 0.0).alias("ndcg")))


def retrieval_metrics_sql(query_ids: List[int], k: int = 10,
                          table: str = "embeddings") -> str:
    """DuckDB oracle: the cosine_topk construction + identical
    relevance joins and folds."""
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
  FROM {table} WHERE vec_id IN ({ids})
),
pairs AS (
  SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id,
         e.label AS nlabel,
         list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])
         / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                  e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(q.qvec::DOUBLE[],
                                    q.qvec::DOUBLE[]))) AS cosine
  FROM {table} e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC)
            AS rank
  FROM pairs
),
topk AS (SELECT * FROM ranked WHERE rank <= {k}),
perq AS (
  SELECT query_id, qlabel,
         SUM(CASE WHEN nlabel = qlabel THEN 1.0 ELSE 0.0 END) AS hits,
         SUM(CASE WHEN nlabel = qlabel
             THEN 1.0 / log2(rank + 1.0) ELSE 0.0 END) AS dcg,
         MIN(CASE WHEN nlabel = qlabel THEN rank END) AS first_rel
  FROM topk GROUP BY query_id, qlabel
),
lc AS (
  SELECT label AS qlabel, CAST(COUNT(*) AS DOUBLE) AS lcn
  FROM {table} GROUP BY label
),
g AS (
  SELECT perq.*, lc.lcn - 1.0 AS n_rel,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(generate_series(
                 1, LEAST({k}, CAST(lc.lcn - 1.0 AS INT))),
               i -> 1.0 / log2(CAST(i AS DOUBLE) + 1.0))),
           (acc, x) -> acc + x) AS idcg
  FROM perq JOIN lc USING (qlabel)
)
SELECT query_id, CAST(n_rel AS BIGINT) AS n_rel,
       CAST(hits AS BIGINT) AS hits,
       ROUND(hits / {float(k)!r}, 6) + 0.0 AS precision_k,
       ROUND(COALESCE(1.0 / first_rel, 0.0), 6) + 0.0 AS rr,
       ROUND(dcg, 6) + 0.0 AS dcg,
       ROUND(idcg, 6) + 0.0 AS idcg,
       ROUND(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6) + 0.0
         AS ndcg
FROM g
"""


def ann_recall(approx: DataFrame, exact: DataFrame, k: int = 10
               ) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact top-k (both as (query_id, neighbor_id[, …]) tables): the
    overlap count over k — the single number that certifies an ANN
    index (IVF/PQ/LSH) before it replaces brute force in a dedup or
    balancing pipeline. Both inputs are k·|Q|-row readouts already, so
    this is a tiny inner join + one agg; a missing query (the ANN
    pruned everything) reports recall 0, not a dropped row.
    """
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    hit = (e.join(a, ["query_id", "neighbor_id"])
           .groupBy("query_id")
           .agg(F.count("*").cast("double").alias("n_overlap")))
    base = e.select("query_id").distinct()
    return (base.join(hit, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_overlap"), F.lit(0.0))
                    .cast("long").alias("n_overlap"),
                    (F.round(F.coalesce(F.col("n_overlap"), F.lit(0.0))
                             / float(k), 6) + 0.0).alias("recall")))


def ann_recall_sql(approx_sql: str, exact_sql: str, k: int = 10) -> str:
    """DuckDB oracle: the same join of the two inner constructions."""
    return f"""
WITH apx AS ({approx_sql}),
exc AS ({exact_sql}),
hit AS (
  SELECT e.query_id, CAST(COUNT(*) AS DOUBLE) AS n_overlap
  FROM exc e JOIN apx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
),
base AS (SELECT DISTINCT query_id FROM exc)
SELECT base.query_id,
       CAST(COALESCE(hit.n_overlap, 0.0) AS BIGINT) AS n_overlap,
       ROUND(COALESCE(hit.n_overlap, 0.0) / {float(k)!r}, 6) + 0.0
         AS recall
FROM base LEFT JOIN hit ON base.query_id = hit.query_id
"""


def rank_biased_overlap(left: DataFrame, right: DataFrame,
                        k: int = 10, p: float = 0.9) -> DataFrame:
    """Truncated rank-biased overlap (Webber et al.) between two
    ranked lists per query — the POSITION-AWARE agreement that
    `ann_recall` (set overlap at k, position-blind) cannot see: two
    indexes with identical recall@k but swapped top ranks score
    differently here. ``RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·(|L_d ∩ R_d|/d)``
    over the truncated prefix (the unseen-tail residual is dropped —
    stated, standard for fixed-k evaluations).

    Shape: both inputs are k·|Q| readouts; a matched pair enters the
    overlap at depth max(rank_l, rank_r), so A_d comes from ONE join +
    a cumulative window over the |Q|·k depth frame — no per-depth
    rescans. Queries with no matches at all still emit (RBO 0).
    """
    if not (0.0 < p < 1.0):
        raise ValueError(f"rank_biased_overlap: p must be in (0,1), got {p}")
    l = left.select("query_id", "neighbor_id",
                    F.col("rank").alias("rank_l"))
    r = right.select("query_id", "neighbor_id",
                     F.col("rank").alias("rank_r"))
    matches = (l.join(r, ["query_id", "neighbor_id"])
               .select("query_id",
                       F.greatest("rank_l", "rank_r").alias("entry_d")))
    at_depth = (matches.groupBy("query_id", "entry_d")
                .agg(F.count("*").cast("double").alias("m")))
    qs = (right.select("query_id").distinct()
          .select("query_id",
                  F.explode(F.sequence(F.lit(1), F.lit(k)))
                  .alias("d")))
    w = Window.partitionBy("query_id").orderBy("d") \
        .rowsBetween(Window.unboundedPreceding, 0)
    grid = (qs.join(at_depth,
                    (qs["query_id"] == at_depth["query_id"])
                    & (qs["d"] == at_depth["entry_d"]), "left")
            .select(qs["query_id"], "d",
                    F.coalesce("m", F.lit(0.0)).alias("m"))
            .withColumn("overlap", F.sum("m").over(w)))
    term = (F.lit(1.0 - p) * F.pow(F.lit(p), F.col("d") - 1)
            * F.col("overlap") / F.col("d"))
    return (grid.groupBy("query_id")
            .agg((F.round(F.sum(term), 6) + 0.0).alias("rbo")))


def rank_biased_overlap_sql(left_sql: str, right_sql: str,
                            k: int = 10, p: float = 0.9) -> str:
    """DuckDB oracle: the same entry-depth join + cumulative fold."""
    return f"""
WITH rbl AS ({left_sql}),
rbr AS ({right_sql}),
rbm AS (
  SELECT l.query_id, GREATEST(l.rank, r.rank) AS entry_d
  FROM rbl l JOIN rbr r
    ON l.query_id = r.query_id AND l.neighbor_id = r.neighbor_id
),
rbd AS (
  SELECT query_id, entry_d, CAST(COUNT(*) AS DOUBLE) AS m
  FROM rbm GROUP BY 1, 2
),
rbq AS (
  SELECT q.query_id, d.d
  FROM (SELECT DISTINCT query_id FROM rbr) q,
       (SELECT UNNEST(generate_series(1, {k})) AS d) d
),
rbg AS (
  SELECT rbq.query_id, rbq.d, COALESCE(rbd.m, 0.0) AS m
  FROM rbq LEFT JOIN rbd
    ON rbq.query_id = rbd.query_id AND rbq.d = rbd.entry_d
),
rbc AS (
  SELECT query_id, d,
         SUM(m) OVER (PARTITION BY query_id ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS overlap
  FROM rbg
)
SELECT query_id,
       ROUND(SUM({1.0 - p!r} * POWER({p!r}, d - 1) * overlap / d), 6)
         + 0.0 AS rbo
FROM rbc GROUP BY query_id
"""
