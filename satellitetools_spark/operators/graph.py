"""Graph operators over pair tables (duplicate graphs, link graphs):
PageRank as unrolled relational iterations.

Connected components live in ``operators/dedup`` (min-label
propagation); this module adds importance scoring over the same edge
shape — e.g. ranking the canonical representative inside a duplicate
cluster, or weighting documents by citation/link structure.

PageRank is iterative, but each iteration IS relational algebra:
contribution join + keyed sum. A fixed iteration count therefore stays
oracle-checkable (the DuckDB twin unrolls the same iterations as CTE
layers) — the usual convergence loop just re-applies the same step
until a delta threshold, which `pagerank`'s ``iters`` parameter models
with deterministic cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(pairs: DataFrame, iters: int = 3) -> DataFrame:
    """PageRank over an UNDIRECTED pair table (each pair becomes two
    directed edges) of (doc_a, doc_b), ``iters`` fixed power iterations
    from the uniform start, damping 0.85. Every node reachable from the
    pair table is ranked; since every node has degree ≥ 1 by
    construction there is no dangling-mass term.

    Shape per iteration: one join of the rank vector to the edge table
    (rank-vector side is node-cardinality), one hash aggregation on the
    destination — the canonical distributed PageRank step, 2·iters
    shuffles total plus the degree build. At web scale the edge table
    dwarfs the rank vector, so the join broadcasts the vector or
    co-partitions both sides on the node key; Catalyst picks broadcast
    automatically below the threshold (the dup-graph case).
    """
    damping = 0.85
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst"))))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    n_nodes = deg.agg(F.count("*").alias("n"))
    rank = (deg.crossJoin(F.broadcast(n_nodes))
               .select(F.col("src").alias("node"),
                       (F.lit(1.0) / F.col("n")).alias("pr")))
    for _ in range(iters):
        contrib = (edges
                   .join(rank.withColumnRenamed("node", "src"), "src")
                   .join(deg, "src")
                   .groupBy("dst")
                   .agg(F.sum(F.col("pr") / F.col("deg")).alias("m")))
        rank = (contrib.crossJoin(F.broadcast(n_nodes))
                .select(F.col("dst").alias("node"),
                        ((1.0 - damping) / F.col("n")
                         + damping * F.col("m")).alias("pr")))
    return rank.select("node", F.round("pr", 9).alias("pr"))


def pagerank_sql(pairs_sql: str, iters: int = 3, damping: float = 0.85,
                 src_col: str = "doc_a", dst_col: str = "doc_b") -> str:
    """DuckDB oracle: the identical iterations unrolled as CTE layers
    over any pair-producing subquery."""
    layers = []
    prev = "pr0"
    for i in range(1, iters + 1):
        layers.append(f"""
pr{i} AS (
  SELECT e.dst AS node,
         (1.0 - {damping!r}) / (SELECT n FROM nn)
         + {damping!r} * SUM(p.pr / d.deg) AS pr
  FROM edges e
  JOIN {prev} p ON p.node = e.src
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)""")
        prev = f"pr{i}"
    layer_sql = ",".join(layers)
    return f"""
WITH prpairs AS ({pairs_sql}),
edges AS (
  SELECT {src_col} AS src, {dst_col} AS dst FROM prpairs
  UNION ALL
  SELECT {dst_col} AS src, {src_col} AS dst FROM prpairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM deg),
pr0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
{layer_sql}
SELECT node, ROUND(pr, 9) AS pr FROM {prev}
"""


def triangle_count(pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected pair
    table — the clustering-structure primitive behind dup-cluster
    density scoring and community detection seeds.

    Uses the degree-oriented (Cohen) algorithm: every edge is directed
    from its lower-(degree, node) endpoint to the higher one, so wedge
    enumeration fans out from each node over its HIGHER-degree
    neighbours only — a hub of degree d generates O(d) oriented
    out-edges instead of O(d²) wedges, which is what makes the plan
    survive power-law graphs at scale (the skew lands on low-degree
    apexes). Each triangle is then found exactly once: its unique
    out-degree-2 apex proposes the wedge, one join against the
    canonical edge set closes it. Shape: two self-joins at edge
    cardinality + one explode at triangle cardinality + a hash agg at
    node cardinality; the degree table is node-cardinality and
    broadcast-able.
    """
    e = (pairs.select(F.least("doc_a", "doc_b").alias("u"),
                      F.greatest("doc_a", "doc_b").alias("v"))
         .distinct())
    deg = (e.select(F.col("u").alias("node"))
           .unionByName(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    lower_first = (F.col("deg_u") < F.col("deg_v")) | \
        ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v")))
    oriented = (e.join(du, "u").join(dv, "v")
                .select(F.when(lower_first, F.col("u")).otherwise(F.col("v"))
                        .alias("src"),
                        F.when(lower_first, F.col("v")).otherwise(F.col("u"))
                        .alias("dst")))
    o1 = oriented.select("src", F.col("dst").alias("d1"))
    o2 = oriented.select("src", F.col("dst").alias("d2"))
    wedges = (o1.join(o2, "src").filter(F.col("d1") < F.col("d2")))
    tris = wedges.join(
        e, (F.col("d1") == F.col("u")) & (F.col("d2") == F.col("v")))
    per_node = (tris.select(F.explode(F.array("src", "d1", "d2"))
                            .alias("node"))
                .groupBy("node").agg(F.count("*").alias("n_tri")))
    return (deg.join(per_node, "node", "left")
            .select("node", F.coalesce("n_tri", F.lit(0)).alias("n_tri")))


def triangle_count_sql(pairs_sql: str, src_col: str = "doc_a",
                       dst_col: str = "doc_b") -> str:
    """DuckDB oracle: the identical degree-oriented enumeration."""
    return f"""
WITH tpairs AS ({pairs_sql}),
ce AS (SELECT DISTINCT LEAST({src_col}, {dst_col}) AS u,
              GREATEST({src_col}, {dst_col}) AS v FROM tpairs),
tdeg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM ce UNION ALL SELECT v AS node FROM ce
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM ce e JOIN tdeg du ON du.node = e.u JOIN tdeg dv ON dv.node = e.v
),
tris AS (
  SELECT o1.src, o1.dst AS d1, o2.dst AS d2
  FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src AND o1.dst < o2.dst
  JOIN ce ON ce.u = o1.dst AND ce.v = o2.dst
),
per_node AS (
  SELECT node, COUNT(*) AS n_tri FROM (
    SELECT src AS node FROM tris
    UNION ALL SELECT d1 FROM tris
    UNION ALL SELECT d2 FROM tris
  ) GROUP BY node
)
SELECT d.node, COALESCE(p.n_tri, 0) AS n_tri
FROM tdeg d LEFT JOIN per_node p ON p.node = d.node
"""


def hits(edges: DataFrame, iters: int = 4) -> DataFrame:
    """HITS (Kleinberg) hubs-and-authorities over a DIRECTED edge
    table — on a bipartite interaction graph (customer→part,
    user→item, doc→term) the two sides get separately meaningful
    scores: authorities = endorsed-by-good-hubs, hubs =
    endorse-good-authorities. ``iters`` fixed mutual-reinforcement
    rounds from the uniform start, L1-normalized each half-step (the
    normalization keeps the unrolled oracle exactly reproducible —
    no eigensolver).

    Shape per iteration: two edge⋈vector joins + two keyed sums; the
    score vectors are node-cardinality (broadcast or co-partitioned,
    Catalyst's pick), the edge table is never shuffled more than once
    per half-step. Output: one row per node and side.
    """
    # lazy checkpoints keep the unrolled lineage flat: without them the
    # edge subtree re-analyzes once per half-step reference and the
    # optimizer cost grows superlinearly in iters (same fence as
    # region_label / mann_kendall)
    e = (edges.select("src", "dst").distinct()
         .localCheckpoint(eager=False))
    hubs0 = e.select("src").distinct()
    n_h = hubs0.agg(F.count("*").alias("n"))
    hub = (hubs0.crossJoin(F.broadcast(n_h))
           .select(F.col("src").alias("node"),
                   (F.lit(1.0) / F.col("n")).alias("s")))
    auth = None
    for _ in range(int(iters)):
        araw = (e.join(hub.withColumnRenamed("node", "src"), "src")
                .groupBy("dst").agg(F.sum("s").alias("_r")))
        atot = araw.agg(F.sum("_r").alias("_t"))
        auth = (araw.crossJoin(F.broadcast(atot))
                .select(F.col("dst").alias("node"),
                        (F.col("_r") / F.col("_t")).alias("s"))
                .localCheckpoint(eager=False))
        hraw = (e.join(auth.withColumnRenamed("node", "dst"), "dst")
                .groupBy("src").agg(F.sum("s").alias("_r")))
        htot = hraw.agg(F.sum("_r").alias("_t"))
        hub = (hraw.crossJoin(F.broadcast(htot))
               .select(F.col("src").alias("node"),
                       (F.col("_r") / F.col("_t")).alias("s"))
               .localCheckpoint(eager=False))
    out_h = hub.select(F.lit("hub").alias("side"), "node",
                       (F.round("s", 9) + 0.0).alias("score"))
    out_a = auth.select(F.lit("authority").alias("side"), "node",
                        (F.round("s", 9) + 0.0).alias("score"))
    return out_h.unionByName(out_a)


def hits_sql(edges_sql: str, iters: int = 4, src_col: str = "src",
             dst_col: str = "dst") -> str:
    """DuckDB oracle: identical unrolled half-steps as CTE layers over
    any edge-producing subquery."""
    layers = []
    prev_h = "hh0"
    for i in range(1, int(iters) + 1):
        # AS MATERIALIZED: DuckDB inlines plain CTEs, and every layer
        # references its predecessor twice (value + normalizing sum) —
        # unmaterialized, the inlined plan doubles per half-step
        layers.append(f"""
ha{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(p.s) AS r
  FROM hedges e JOIN {prev_h} p ON p.node = e.src GROUP BY e.dst
),
haa{i} AS MATERIALIZED (
  SELECT node, r / (SELECT SUM(r) FROM ha{i}) AS s FROM ha{i}),
hh{i}r AS MATERIALIZED (
  SELECT e.src AS node, SUM(a.s) AS r
  FROM hedges e JOIN haa{i} a ON a.node = e.dst GROUP BY e.src
),
hh{i} AS MATERIALIZED (
  SELECT node, r / (SELECT SUM(r) FROM hh{i}r) AS s
  FROM hh{i}r)""")
        prev_h = f"hh{i}"
    body = ",".join(layers)
    return f"""
WITH hraw AS ({edges_sql}),
hedges AS MATERIALIZED (SELECT DISTINCT {src_col} AS src, {dst_col} AS dst
           FROM hraw),
hh0 AS (
  SELECT src AS node,
         1.0 / (SELECT COUNT(DISTINCT src) FROM hedges) AS s
  FROM (SELECT DISTINCT src FROM hedges)
),{body}
SELECT 'hub' AS side, node, ROUND(s, 9) + 0.0 AS score FROM {prev_h}
UNION ALL
SELECT 'authority' AS side, node, ROUND(s, 9) + 0.0 AS score
FROM haa{int(iters)}
"""


# ---------------------------------------------------------------------------
# Link prediction: Adamic-Adar / common neighbors / Jaccard coefficient
# ---------------------------------------------------------------------------

def adamic_adar(pairs: DataFrame, src_col: str = "doc_a",
                dst_col: str = "doc_b",
                max_wedge_degree: int | None = None) -> DataFrame:
    """Link-prediction scores for every NON-adjacent node pair sharing
    at least one neighbor in an undirected pair table: Adamic-Adar
    ``AA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1/ln(deg z)`` plus the
    common-neighbor count and the Jaccard coefficient
    ``|N(u)∩N(v)| / |N(u)∪N(v)|``. On a duplicate graph this surfaces
    "transitive duplicates" the pairwise threshold missed (the
    reference has no graph layer; this serves the dedup pipeline the
    way `pagerank` serves canonical-copy choice).

    Shape: one wedge self-join of the directed edge table on the apex
    ``z`` with ``u < v`` (candidate fan-out Σ_z deg(z)², the same
    quadratic every common-neighbor method pays), one hash aggregation
    to (u, v), one degree join, and a broadcast-able LEFT ANTI join
    against the edge set to drop already-adjacent pairs. Hub apexes
    dominate the fan-out, so ``max_wedge_degree`` optionally drops
    apexes above a degree cap — the standard web-scale mitigation
    (capped AA is a documented approximation; default None is exact).
    No driver collects; NumPy-free.
    """
    edges = (pairs.select(F.col(src_col).alias("src"),
                          F.col(dst_col).alias("dst"))
             .unionByName(pairs.select(F.col(dst_col).alias("src"),
                                       F.col(src_col).alias("dst"))))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    apex = edges.join(deg, "src")
    if max_wedge_degree is not None:
        apex = apex.filter(F.col("deg") <= int(max_wedge_degree))
    a, b = apex.alias("a"), apex.alias("b")
    cand = (a.join(b, (F.col("a.src") == F.col("b.src"))
                   & (F.col("a.dst") < F.col("b.dst")))
            .groupBy(F.col("a.dst").alias("u"), F.col("b.dst").alias("v"))
            .agg(F.count("*").cast("long").alias("common_neighbors"),
                 F.sum(1.0 / F.log(F.col("a.deg"))).alias("aa_raw")))
    adj = pairs.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("u"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("v"))
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("deg_v"))
    return (cand.join(adj, ["u", "v"], "left_anti")
            .join(du, "u").join(dv, "v")
            .select("u", "v", "common_neighbors",
                    (F.round("aa_raw", 6) + 0.0).alias("adamic_adar"),
                    (F.round(F.col("common_neighbors")
                             / (F.col("deg_u") + F.col("deg_v")
                                - F.col("common_neighbors")), 6)
                     + 0.0).alias("jaccard_coef")))


def adamic_adar_sql(pairs_sql: str, src_col: str = "doc_a",
                    dst_col: str = "doc_b") -> str:
    """DuckDB oracle: identical wedge join, anti-join, and score
    algebra over any pair-producing subquery (exact form, no cap)."""
    return f"""
WITH praw AS ({pairs_sql}),
edges AS MATERIALIZED (
  SELECT {src_col} AS src, {dst_col} AS dst FROM praw
  UNION ALL
  SELECT {dst_col} AS src, {src_col} AS dst FROM praw
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
apex AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
cand AS (
  SELECT a.dst AS u, b.dst AS v,
         CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         SUM(1.0 / LN(a.deg)) AS aa_raw
  FROM apex a JOIN apex b ON a.src = b.src AND a.dst < b.dst
  GROUP BY 1, 2
),
adj AS (SELECT LEAST({src_col}, {dst_col}) AS u,
               GREATEST({src_col}, {dst_col}) AS v FROM praw)
SELECT c.u, c.v, c.common_neighbors,
       ROUND(c.aa_raw, 6) + 0.0 AS adamic_adar,
       ROUND(c.common_neighbors
             / CAST(du.deg + dv.deg - c.common_neighbors AS DOUBLE), 6)
         + 0.0 AS jaccard_coef
FROM cand c
JOIN deg du ON du.src = c.u
JOIN deg dv ON dv.src = c.v
WHERE NOT EXISTS (SELECT 1 FROM adj WHERE adj.u = c.u AND adj.v = c.v)
"""


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peeling)
# ---------------------------------------------------------------------------

def k_core(pairs: DataFrame, k: int = 2, rounds: int = 8,
           src_col: str = "doc_a", dst_col: str = "doc_b") -> DataFrame:
    """Nodes of the k-core of an undirected pair table — the maximal
    subgraph where every node keeps degree ≥ k — with each survivor's
    within-core degree. The dense heart of a duplicate cluster (the
    2-core strips pendant near-dups; the 3-core isolates template
    farms) and the standard spam/cohesion signal on link graphs.

    Peeling is iterate-to-fixpoint, but each round IS relational
    algebra: one degree aggregation + two semi-joins restricting the
    edge list to surviving endpoints. A fixed ``rounds`` keeps the
    DuckDB twin oracle-checkable (identical unrolled CTE layers);
    peeling is idempotent once converged, so over-provisioned rounds
    change nothing. Each round lazily checkpoints the shrinking edge
    list so the plan stays linear in ``rounds``, not exponential.
    At web scale each round is one shuffle on the node key; the edge
    list only shrinks, and converged cores exit early via the
    idempotent fixpoint (extra rounds run on the final, smallest
    edge list).
    """
    edges = (pairs.select(F.col(src_col).alias("src"),
                          F.col(dst_col).alias("dst"))
             .unionByName(pairs.select(F.col(dst_col).alias("src"),
                                       F.col(src_col).alias("dst"))))
    for _ in range(int(rounds)):
        alive = (edges.groupBy("src").agg(F.count("*").alias("deg"))
                 .filter(F.col("deg") >= int(k)).select("src"))
        edges = (edges
                 .join(alive, "src", "left_semi")
                 .join(alive.withColumnRenamed("src", "dst"),
                       "dst", "left_semi")
                 .localCheckpoint(eager=False))
    return (edges.groupBy("src").agg(F.count("*").cast("long")
                                     .alias("core_deg"))
            .select(F.col("src").alias("node"), "core_deg")
            .filter(F.col("core_deg") >= int(k)))


def k_core_sql(pairs_sql: str, k: int = 2, rounds: int = 8,
               src_col: str = "doc_a", dst_col: str = "doc_b") -> str:
    """DuckDB oracle: the identical peeling rounds as unrolled CTE
    layers over any pair-producing subquery."""
    layers = []
    prev = "ke0"
    for i in range(1, int(rounds) + 1):
        layers.append(f"""
ka{i} AS MATERIALIZED (
  SELECT src FROM {prev} GROUP BY src HAVING COUNT(*) >= {int(k)}),
ke{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  JOIN ka{i} u ON e.src = u.src
  JOIN ka{i} v ON e.dst = v.src)""")
        prev = f"ke{i}"
    body = ",".join(layers)
    return f"""
WITH kraw AS ({pairs_sql}),
ke0 AS MATERIALIZED (
  SELECT {src_col} AS src, {dst_col} AS dst FROM kraw
  UNION ALL
  SELECT {dst_col} AS src, {src_col} AS dst FROM kraw
),{body}
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM {prev} GROUP BY src HAVING COUNT(*) >= {int(k)}
"""


# ---------------------------------------------------------------------------
# Label-propagation communities (synchronous, fixed rounds)
# ---------------------------------------------------------------------------

def label_propagation(pairs: DataFrame,
                      src_col: str = "doc_a",
                      dst_col: str = "doc_b") -> DataFrame:
    """Community detection by synchronous label propagation over an
    undirected pair table: every node starts with its own label; each
    round every node adopts the MOST FREQUENT label among its
    neighbors (ties broken by smallest label) — unlike
    ``connected_components`` (which finds reachability classes), LPA
    splits a connected graph into densely-linked communities.

    Determinism: the classic asynchronous LPA is order-dependent; this
    is the synchronous variant with a total tie order (count DESC,
    label ASC), so the result is a pure function of the graph and the
    fixed 4 rounds — which is what makes the DuckDB twin oracle-checkable
    (identical unrolled CTE layers). Fixed rounds also bound cost:
    each round is one edge⋈label join + one (node,label) count + one
    argmax window over the count table (node-cardinality, never the
    raw edge stream twice). Synchronous LPA can oscillate on bipartite
    structures; a fixed round count is the standard cutoff. Each round lazily
    checkpoints the label vector so the plan stays linear.
    """
    from pyspark.sql import Window
    edges = (pairs.select(F.col(src_col).alias("src"),
                          F.col(dst_col).alias("dst"))
             .unionByName(pairs.select(F.col(dst_col).alias("src"),
                                       F.col(src_col).alias("dst"))))
    labels = (edges.select("src").distinct()
              .select(F.col("src").alias("node"),
                      F.col("src").alias("label")))
    w = Window.partitionBy("dst").orderBy(
        F.col("cnt").desc(), F.col("label").asc())
    for _ in range(4):
        counts = (edges
                  .join(labels.withColumnRenamed("node", "src"), "src")
                  .groupBy("dst", "label")
                  .agg(F.count("*").alias("cnt")))
        labels = (counts.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1)
                  .select(F.col("dst").alias("node"), "label")
                  .localCheckpoint(eager=False))
    return labels.select("node", F.col("label").alias("community"))


def label_propagation_sql(pairs_sql: str, rounds: int = 4,
                          src_col: str = "doc_a",
                          dst_col: str = "doc_b") -> str:
    """DuckDB oracle: identical synchronous rounds and tie order as
    unrolled CTE layers."""
    layers = []
    prev = "ll0"
    for i in range(1, int(rounds) + 1):
        layers.append(f"""
lc{i} AS MATERIALIZED (
  SELECT e.dst, p.label, COUNT(*) AS cnt
  FROM ledges e JOIN {prev} p ON p.node = e.src
  GROUP BY e.dst, p.label
),
ll{i} AS MATERIALIZED (
  SELECT dst AS node, label FROM (
    SELECT dst, label, ROW_NUMBER() OVER (
        PARTITION BY dst ORDER BY cnt DESC, label ASC) AS rn
    FROM lc{i}) WHERE rn = 1)""")
        prev = f"ll{i}"
    body = ",".join(layers)
    return f"""
WITH lraw AS ({pairs_sql}),
ledges AS MATERIALIZED (
  SELECT {src_col} AS src, {dst_col} AS dst FROM lraw
  UNION ALL
  SELECT {dst_col} AS src, {src_col} AS dst FROM lraw
),
ll0 AS (
  SELECT src AS node, src AS label FROM (SELECT DISTINCT src FROM ledges)
),{body}
SELECT node, label AS community FROM {prev}
"""


# ---------------------------------------------------------------------------
# Multi-source BFS hop distance (fixed frontier rounds)
# ---------------------------------------------------------------------------

def bfs_hops(pairs: DataFrame, sources: DataFrame, max_hops: int = 4,
             src_col: str = "doc_a", dst_col: str = "doc_b") -> DataFrame:
    """Minimum hop count from a SET of source nodes to every node
    within ``max_hops`` over an undirected pair table — "how far is
    each document from a known-bad seed set" (contamination blast
    radius), the reachability readout `connected_components` is too
    coarse for. Returns (node, hops).

    Each round is pure relational algebra — frontier⋈edges, then a
    min-hop merge — so a fixed round count stays oracle-checkable
    (identical unrolled CTE layers). Rounds are idempotent once the
    frontier empties, so over-provisioned ``max_hops`` changes
    nothing. Per round: ONE equi-join of the CURRENT FRONTIER (not
    the full visited set) against the edge table + one node-keyed
    min-agg; frontier and dist tables are node-cardinality, lazily
    checkpointed. Multi-source by construction (pass one row for
    single-source).
    """
    edges = (pairs.select(F.col(src_col).alias("src"),
                          F.col(dst_col).alias("dst"))
             .unionByName(pairs.select(F.col(dst_col).alias("src"),
                                       F.col(src_col).alias("dst"))))
    dist = sources.select("node", F.lit(0).alias("hops"))
    frontier = dist
    for h in range(1, int(max_hops) + 1):
        nxt = (edges.join(frontier.withColumnRenamed("node", "src")
                          .select("src"), "src")
               .select(F.col("dst").alias("node"),
                       F.lit(h).alias("hops")))
        merged = (dist.unionByName(nxt)
                  .groupBy("node").agg(F.min("hops").alias("hops"))
                  .localCheckpoint(eager=False))
        frontier = merged.filter(F.col("hops") == h)
        dist = merged
    return dist


def bfs_hops_sql(pairs_sql: str, sources_sql: str, max_hops: int = 4,
                 src_col: str = "doc_a", dst_col: str = "doc_b",
                 source_col: str = "node") -> str:
    """DuckDB oracle: identical frontier rounds as unrolled CTE
    layers."""
    layers = []
    prev = "bd0"
    for h in range(1, int(max_hops) + 1):
        layers.append(f"""
bf{h} AS MATERIALIZED (
  SELECT e.dst AS node, {h} AS hops
  FROM bedges e JOIN (SELECT node FROM {prev} WHERE hops = {h - 1}) f
    ON e.src = f.node
),
bd{h} AS MATERIALIZED (
  SELECT node, MIN(hops) AS hops FROM
    (SELECT * FROM {prev} UNION ALL SELECT * FROM bf{h})
  GROUP BY node)""")
        prev = f"bd{h}"
    body = ",".join(layers)
    return f"""
WITH braw AS ({pairs_sql}),
bedges AS MATERIALIZED (
  SELECT {src_col} AS src, {dst_col} AS dst FROM braw
  UNION ALL
  SELECT {dst_col} AS src, {src_col} AS dst FROM braw
),
bsrc AS ({sources_sql}),
bd0 AS (SELECT {source_col} AS node, 0 AS hops FROM bsrc),{body}
SELECT node, CAST(hops AS INT) AS hops FROM {prev}
"""
