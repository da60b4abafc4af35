"""Graph operators (iterative superstep algorithms on DataFrames).

Every op but graph_bipartite_projection reads the distinct non-NULL
users (``_users``), and every op but it and graph_connected_components
reads one deterministic interaction graph over them, built in one place
(``_graph``): two out-edges per user (u → (7u+13) mod N and
u → (11u+5) mod N) and its undirected forms. N rides in the plan as a
scalar subquery, so building the frames runs no job. The non-iterative
ops cache nothing: each reads the frames in one query (as DataFrame
arguments of ``spark.sql``, or in DataFrame joins), and AQE reuses the
exchanges that the repeated reads share. The fixpoint ops
localCheckpoint them; pagerank and BFS count the vertices on the driver
and pass that count to the builder.

Scale notes (100 TB): PageRank-style algorithms are repeated
join + aggregate supersteps — each iteration shuffles the rank table on
the edge key, exactly like llm_dedup_components' label propagation. The
edge table is the big side and KEEPS its partitioning across iterations
(co-partitioned joins); the rank table is vertices-sized. localCheckpoint
truncates the growing lineage so iteration 10's plan doesn't replay
iterations 1-9.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ._util import ratio, sql_q, t

_D = 0.85
_ITERS = 10


def _users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph's vertex set: distinct non-NULL ``user_id``."""
    return (
        t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
    )


class _Graph(NamedTuple):
    edges: DataFrame  # src, dst: two per user, self-loops and repeats kept
    und: DataFrame  # a < b: each undirected non-loop edge once
    sym: DataFrame  # u, v: each undirected non-loop edge in both directions


def _graph(users: DataFrame, n: int | None = None) -> _Graph:
    """The deterministic out-degree-2 graph over ``users`` (a ``_users``
    frame, checkpointed or not), as uncached frames. The vertex count is
    a scalar subquery, not a driver count, so building them runs no job;
    a fixpoint op that already holds the count as ``n`` passes it, and
    its checkpointed edge build then runs no subquery. ``sym`` is ``und``
    and its reversal, so its reads share ``und``'s one distinct
    exchange."""
    if n is None:
        n = users.agg(F.count(F.lit(1))).scalar()
    u = F.col("user_id")
    edges = users.select(
        u.alias("src"),
        F.explode(F.array((u * 7 + 13) % n, (u * 11 + 5) % n)).alias("dst"),
    )
    a, b = F.least("src", "dst"), F.greatest("src", "dst")
    # The not-null terms are true of every non-loop edge. Stated here, they
    # keep each read's join from pushing its own inferred isnotnull below
    # the distinct, which would give the reads different exchanges.
    und = (
        edges.where((F.col("src") != F.col("dst")) & a.isNotNull() & b.isNotNull())
        .select(a.alias("a"), b.alias("b"))
        .distinct()
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    return _Graph(edges, und, sym)


def _pagerank_oracle() -> str:
    """Unrolled-CTE PageRank: 10 iterations as chained CTEs (DuckDB has no
    iterative construct with per-step aggregation; unrolling keeps the
    oracle a single exact SQL statement)."""
    steps = []
    for k in range(1, _ITERS + 1):
        steps.append(
            f"""pr{k} AS (
      SELECT u.user_id,
             0.15 / (SELECT n FROM nn)
               + {_D} * coalesce(sum(p.pr / 2), 0) AS pr
      FROM users u
      LEFT JOIN edges e ON e.dst = u.user_id
      LEFT JOIN pr{k - 1} p ON p.user_id = e.src
      GROUP BY u.user_id)"""
        )
    return f"""
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM users),
    edges AS (
      SELECT user_id AS src,
             (user_id * 7 + 13) % (SELECT count(*) FROM users) AS dst FROM users
      UNION ALL
      SELECT user_id,
             (user_id * 11 + 5) % (SELECT count(*) FROM users) FROM users),
    pr0 AS (SELECT user_id, 1.0 / (SELECT n FROM nn) AS pr FROM users),
    {",".join(steps)}
    SELECT user_id, round(pr, 6) AS pagerank
    FROM pr{_ITERS}
    ORDER BY round(pr, 6) DESC, user_id
    LIMIT 10
    """


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 10 synchronous iterations) over a
    deterministic out-degree-2 functional graph on the user-id domain
    (edges u → (7u+13) mod N and u → (11u+5) mod N — a seeded stand-in
    for a real follower/link graph, keeping the fixture exactly
    oracle-checkable; the DuckDB oracle unrolls the 10 iterations as
    chained CTEs). Superstep shape per iteration: ranks ⋈ edges on src
    (contribution scatter) → groupBy dst sum (gather) → left join back to
    the vertex set for dangling/in-degree-0 vertices. The edge table is
    hash-partitioned once and reused; lineage is truncated with
    localCheckpoint so the iteration-10 plan is one superstep deep, not
    ten."""
    # vertex set materialized ONCE (r16, guide §1.2): ``users`` was an
    # uncached scan+distinct referenced by the count, the edge build, the
    # rank init AND the dangling-vertex join of every superstep — the
    # events scan + distinct shuffle re-ran ~13× across the 10 iterations.
    users = _users(spark, sf_dir).localCheckpoint(eager=True)
    n = users.count()
    edges = _graph(users, n).edges.localCheckpoint()
    ranks = users.select("user_id", (F.lit(1.0) / n).alias("pr"))
    for _ in range(_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("user_id", "src"), "src")
            .groupBy(F.col("dst").alias("user_id"))
            .agg(F.sum(F.col("pr") / 2).alias("in_sum"))
        )
        ranks = (
            users.join(contrib, "user_id", "left")
            .select(
                "user_id",
                (
                    F.lit(0.15 / n)
                    + F.lit(_D) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return (
        ranks.select("user_id", ratio(F.col("pr")).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "user_id")
        .limit(10)
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    dedges AS (
      SELECT user_id AS src,
             (user_id * 7 + 13) % (SELECT count(*) FROM users) AS dst FROM users
      UNION ALL
      SELECT user_id,
             (user_id * 11 + 5) % (SELECT count(*) FROM users) FROM users),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM dedges WHERE src <> dst)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the same deterministic graph as
    graph_pagerank, undirected: canonicalize each edge as (min, max),
    dedupe, then the standard ordered two-hop join — e1=(a<b), e2=(b<c),
    closing edge (a<c) — so every triangle is counted exactly once with
    no orientation blow-up. Two hash equi-joins on vertex keys (the
    classic distributed formulation; at scale the first join is the big
    one and benefits from the usual high-degree-vertex mitigation:
    degree-ordered edge direction, which the (min,max) canonical form
    already approximates)."""
    # r17: the r16 eager checkpoints of `users` and `und` are REVERTED on
    # measurement — the verdict-ordered 100× A/B (old 1.31 s vs
    # checkpointed 1.56 s back-to-back, same harness) shows the two
    # materialization jobs cost MORE than the three re-evaluations of the
    # cheap scan+canonicalize+distinct pipeline they saved, at both sf0.1
    # (wash) and the 100× tier (+19%). The iterative fixpoint ops keep
    # their checkpoints (connected_components measured 9.9→8.7 s at 100×);
    # this op's frame is referenced only 3× inside ONE job, where Spark's
    # shuffle-stage reuse already serves the distinct's exchange.
    und = _graph(_users(spark, sf_dir)).und
    e1 = und.alias("e1")
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2")
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3")).alias("e3")
    return (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@register(
    "graph_degree_stats",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    edges AS (
      SELECT user_id AS src,
             (user_id * 7 + 13) % (SELECT count(*) FROM users) AS dst FROM users
      UNION ALL
      SELECT user_id,
             (user_id * 11 + 5) % (SELECT count(*) FROM users) FROM users),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) x
      GROUP BY v)
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the same deterministic interaction graph
    pagerank/triangle-count run on (two affine follow maps per user,
    deduped undirected). THE fan-out/skew diagnostic read before any
    iterative graph job: a heavy-tailed histogram says salt the hot
    vertices first. One edge-dedup shuffle + one vertex-grain count +
    one |degrees|-row histogram agg — no iteration, no global sort."""
    und = _graph(_users(spark, sf_dir)).und
    verts = und.select(F.col("a").alias("v")).unionAll(und.select(F.col("b")))
    deg = verts.groupBy("v").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


_BFS_ITERS = 5


def _bfs_oracle() -> str:
    """Unrolled BFS relaxation (the pagerank-oracle pattern): d0 = 0 at
    the source, then 5 rounds of dist-via-any-in-edge minimization."""
    steps = []
    for k in range(1, _BFS_ITERS + 1):
        steps.append(
            f"""d{k} AS (
      SELECT u.user_id,
             least(coalesce(min(p.dist + 1), 999), coalesce(min(s.dist), 999))
               AS dist
      FROM users u
      LEFT JOIN edges e ON e.dst = u.user_id
      LEFT JOIN d{k - 1} p ON p.user_id = e.src AND p.dist < 999
      LEFT JOIN d{k - 1} s ON s.user_id = u.user_id
      GROUP BY u.user_id)"""
        )
    return f"""
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    nn AS (SELECT count(*) AS n FROM users),
    edges AS (
      SELECT user_id AS src,
             (user_id * 7 + 13) % (SELECT n FROM nn) AS dst FROM users
      UNION ALL
      SELECT user_id,
             (user_id * 11 + 5) % (SELECT n FROM nn) FROM users),
    d0 AS (
      SELECT user_id, CASE WHEN user_id = 0 THEN 0 ELSE 999 END AS dist
      FROM users),
    {",".join(steps)}
    SELECT CAST(dist AS INT) AS hops,
           CAST(count(*) AS BIGINT) AS n_users
    FROM d{_BFS_ITERS}
    WHERE dist < 999
    GROUP BY dist
    """


@register("graph_bfs_distance", oracle=_bfs_oracle())
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from user 0 over the deterministic interaction
    graph (5 synchronous relaxation supersteps — the Pregel shortest-path
    primitive; dist is exact integers so the oracle unrolls bit-identical
    like graph_pagerank). Each superstep is one edge⋈dist hash join + a
    per-vertex min aggregate; ``localCheckpoint`` truncates the growing
    lineage exactly as in pagerank. Output: reachable-user count per hop
    ring (≤ 5 hops)."""
    # vertex set materialized ONCE (r16): the vertex count, the edge build
    # and the dist init each re-ran the scan+distinct.
    ev = _users(spark, sf_dir).localCheckpoint(eager=True)
    edges = _graph(ev, ev.count()).edges.localCheckpoint()
    dist = ev.select(
        "user_id",
        F.when(F.col("user_id") == 0, F.lit(0)).otherwise(F.lit(999)).alias("dist"),
    )
    for _ in range(_BFS_ITERS):
        via = (
            edges.join(
                dist.where(F.col("dist") < 999).withColumnRenamed("user_id", "src_id"),
                F.col("src") == F.col("src_id"),
            )
            .groupBy(F.col("dst").alias("user_id"))
            .agg((F.min("dist") + 1).alias("via_dist"))
        )
        dist = (
            dist.join(via, "user_id", "left")
            .select(
                "user_id",
                F.least(F.col("dist"), F.coalesce("via_dist", F.lit(999))).alias(
                    "dist"
                ),
            )
            .localCheckpoint()
        )
    return (
        dist.where(F.col("dist") < 999)
        .groupBy(F.col("dist").cast("int").alias("hops"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "graph_common_neighbors",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    nn AS (SELECT count(*) AS n FROM users),
    edges0 AS (
      SELECT user_id AS src, (user_id * 7 + 13) % (SELECT n FROM nn) AS dst
      FROM users
      UNION ALL
      SELECT user_id, (user_id * 11 + 5) % (SELECT n FROM nn) FROM users),
    und AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM edges0 WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM edges0 WHERE src <> dst)),
    deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
    cn AS (
      SELECT a.u AS u, b.u AS v, count(*) AS common_cnt
      FROM und a JOIN und b ON a.v = b.v AND a.u < b.u
      GROUP BY a.u, b.u),
    nonadj AS (
      SELECT c.u, c.v, c.common_cnt FROM cn c
      WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.u = c.u AND e.v = c.v))
    SELECT n2.u, n2.v, n2.common_cnt,
           round(CAST(n2.common_cnt AS DOUBLE) / (da.d + db.d - n2.common_cnt), 6)
             AS jaccard
    FROM nonadj n2 JOIN deg da ON da.u = n2.u JOIN deg db ON db.u = n2.v
    ORDER BY n2.common_cnt DESC, n2.u, n2.v LIMIT 20
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor counting (the classic
    similarity heuristic): for every NON-adjacent vertex pair reached by
    a two-hop path, count shared neighbors and score neighborhood
    Jaccard; top-20 predicted links. Same deterministic out-degree-2
    graph as graph_pagerank. Scale shape: each vertex's neighbor set is
    collected once (bounded by its degree); every pair of a vertex's
    neighbors is a wedge through it, so counting pairs over all sets
    gives the common-neighbor counts, at cost ∑ deg(v)² (the quantity
    graph_degree_stats diagnoses). The adjacency check and both degrees
    come from the two endpoints' sets, so the query reads the symmetric
    adjacency once and AQE serves the three reads of the neighbor sets
    from one exchange."""
    return spark.sql(
        """
        WITH nb AS (SELECT u, collect_set(v) AS nbrs FROM {sym} GROUP BY u),
        cn AS (
          SELECT x AS u, y AS v, count(*) AS common_cnt
          FROM nb LATERAL VIEW explode(nbrs) p AS x
                  LATERAL VIEW explode(nbrs) q AS y
          WHERE x < y
          GROUP BY x, y)
        SELECT c.u, c.v, c.common_cnt,
               round(CAST(c.common_cnt AS DOUBLE)
                     / (size(a.nbrs) + size(b.nbrs) - c.common_cnt), 6)
                 AS jaccard
        FROM cn c JOIN nb a ON a.u = c.u JOIN nb b ON b.u = c.v
        WHERE NOT array_contains(a.nbrs, c.v)
        ORDER BY c.common_cnt DESC, c.u, c.v LIMIT 20
        """,
        sym=_graph(_users(spark, sf_dir)).sym,
    )


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled k-core peeling (the pagerank-oracle pattern): each round
    drops vertices with undirected degree < k and keeps only edges whose
    both endpoints survive."""
    steps = []
    for i in range(1, _KCORE_ROUNDS + 1):
        steps.append(f"""d{i} AS (
      SELECT u, count(*) AS c FROM e{i - 1} GROUP BY u),
    k{i} AS (SELECT u FROM d{i} WHERE c >= {_KCORE_K}),
    e{i} AS (
      SELECT e.u, e.v FROM e{i - 1} e
      JOIN k{i} a ON e.u = a.u JOIN k{i} b ON e.v = b.u)""")
    return f"""
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    nn AS (SELECT count(*) AS n FROM users),
    edges0 AS (
      SELECT user_id AS src, (user_id * 7 + 13) % (SELECT n FROM nn) AS dst
      FROM users
      UNION ALL
      SELECT user_id, (user_id * 11 + 5) % (SELECT n FROM nn) FROM users),
    e0 AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM edges0 WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM edges0 WHERE src <> dst)),
    {",".join(steps)}
    SELECT CAST(count(*) AS BIGINT) AS n_vertices,
           (SELECT CAST(count(*) / 2 AS BIGINT) FROM e{_KCORE_ROUNDS}) AS n_edges,
           CAST(sum(u) AS BIGINT) AS vertex_checksum
    FROM (SELECT DISTINCT u FROM e{_KCORE_ROUNDS})
    """


@register("graph_k_core", oracle=_kcore_oracle())
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3, 4 synchronous peeling rounds): repeatedly
    drop vertices whose undirected degree falls below k — the standard
    community-density / graph-sparsification preprocessing step. Same
    deterministic out-degree-2 graph as graph_pagerank; 4 rounds reach the
    fixed point on this corpus (oracle replays identical unrolled steps).
    Spark plan per round: one degree aggregate + two semi-join-shaped
    filters against the survivor set, then ``localCheckpoint`` truncates
    the growing lineage (the pagerank/dedup-components iteration
    discipline). Edges stay partitioned on the vertex key across rounds —
    each iteration reuses the same shuffle layout; survivor sets shrink
    monotonically, so at 100 TB later rounds touch a fraction of the
    edge table."""
    edges = _graph(_users(spark, sf_dir)).sym.localCheckpoint()
    for _ in range(_KCORE_ROUNDS):
        keep = (
            edges.groupBy("u")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= _KCORE_K)
            .select("u")
        )
        edges = (
            edges.join(keep.withColumnRenamed("u", "ku"), F.col("u") == F.col("ku"))
            .drop("ku")
            .join(keep.withColumnRenamed("u", "kv"), F.col("v") == F.col("kv"))
            .drop("kv")
            .localCheckpoint()
        )
    verts = edges.select("u").distinct()
    n_edges = edges.count() // 2
    return verts.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.sum("u").alias("vertex_checksum"),
    )


@register(
    "graph_assortativity",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    edges0 AS (
      SELECT user_id AS src, (user_id * 7 + 13) % (SELECT count(*) FROM users)
        AS dst FROM users
      UNION ALL
      SELECT user_id, (user_id * 11 + 5) % (SELECT count(*) FROM users)
      FROM users),
    und AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM edges0 WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM edges0 WHERE src <> dst)),
    deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
    pairs AS (
      SELECT d1.d AS du, d2.d AS dv
      FROM und e JOIN deg d1 ON e.u = d1.u JOIN deg d2 ON e.v = d2.u)
    SELECT count(*) AS n_edge_endpoints,
           round(avg(CAST(du AS DOUBLE)), 6) AS avg_degree_at_edge,
           round(corr(CAST(du AS DOUBLE), CAST(dv AS DOUBLE)), 6)
             AS assortativity
    FROM pairs
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r): the Pearson correlation of
    endpoint degrees over all directed edge instances — positive means
    hubs link hubs (social-graph shape), negative means hub-and-spoke
    (infrastructure shape). THE one-number prior for how badly an
    iterative graph job will skew: disassortative graphs concentrate
    wedge work on hub partitions (what graph_degree_stats shows in
    histogram form, collapsed to a correlation). Plan: the shared
    symmetric edge list, two degree joins (degree table broadcasts), one
    corr aggregate — integer-exact moments, one rounded division at the
    end."""
    return spark.sql(
        """
        SELECT count(*) AS n_edge_endpoints,
               round(avg(CAST(du AS DOUBLE)), 6) AS avg_degree_at_edge,
               round(corr(CAST(du AS DOUBLE), CAST(dv AS DOUBLE)), 6)
                 AS assortativity
        FROM (
          SELECT d1.d AS du, d2.d AS dv
          FROM {und} e
          JOIN (SELECT u, count(*) AS d FROM {und} GROUP BY u) d1
            ON e.u = d1.u
          JOIN (SELECT u, count(*) AS d FROM {und} GROUP BY u) d2
            ON e.v = d2.u) pairs
        """,
        und=_graph(_users(spark, sf_dir)).sym,
    )


_CLUSTERING_SQL = """
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    dedges AS (
      SELECT user_id AS src,
             (user_id * 7 + 13) % (SELECT count(*) FROM users) AS dst FROM users
      UNION ALL
      SELECT user_id,
             (user_id * 11 + 5) % (SELECT count(*) FROM users) FROM users),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM dedges WHERE src <> dst),
    tri AS (
      SELECT e1.a AS va, e1.b AS vb, e2.b AS vc
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    vt AS (
      SELECT v, count(*) AS t FROM (
        SELECT va AS v FROM tri
        UNION ALL SELECT vb FROM tri
        UNION ALL SELECT vc FROM tri) allv
      GROUP BY v),
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b FROM und) ends
      GROUP BY v)
    SELECT deg.v AS user_id, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(vt.t, 0) AS BIGINT) AS n_triangles,
           round(CAST(2 * COALESCE(vt.t, 0) AS DOUBLE)
                 / (deg.d * (deg.d - 1)), 6) AS clustering_coeff
    FROM deg LEFT JOIN vt ON vt.v = deg.v
    WHERE deg.d >= 2
    ORDER BY clustering_coeff DESC, user_id
    LIMIT 10
"""


@register("graph_clustering_coefficient", oracle=_CLUSTERING_SQL)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (2·triangles / d(d−1)) per vertex on
    the same deterministic out-degree-2 graph as graph_pagerank /
    graph_triangle_count — the transitivity readout that separates
    hub-and-spoke from community structure. Reuses the ordered triangle
    enumeration (a<b<c counted once), explodes each triangle to its three
    corners for per-vertex counts, joins degrees, top-10 by coefficient.
    The canonical edge set is read five times (three triangle sides +
    both degree ends); its distinct exchange runs once and AQE reuses it.
    Scale shape: the two triangle equi-joins dominate exactly as in the
    count op; corner explode adds one |triangles|-row shuffle."""
    return spark.sql(
        """
        SELECT deg.v AS user_id, CAST(deg.d AS BIGINT) AS degree,
               CAST(COALESCE(vt.t, 0) AS BIGINT) AS n_triangles,
               round(CAST(2 * COALESCE(vt.t, 0) AS DOUBLE)
                     / (deg.d * (deg.d - 1)), 6) AS clustering_coeff
        FROM (SELECT v, count(*) AS d FROM (
                SELECT a AS v FROM {und}
                UNION ALL SELECT b FROM {und}) ends
              GROUP BY v) deg
        LEFT JOIN (
          SELECT v, count(*) AS t FROM (
            SELECT corner AS v
            FROM (SELECT e1.a AS va, e1.b AS vb, e2.b AS vc
                  FROM {und} e1
                  JOIN {und} e2 ON e2.a = e1.b
                  JOIN {und} e3 ON e3.a = e1.a AND e3.b = e2.b) tri
            LATERAL VIEW explode(array(va, vb, vc)) AS corner) allv
          GROUP BY v) vt ON vt.v = deg.v
        WHERE deg.d >= 2
        ORDER BY clustering_coeff DESC, user_id
        LIMIT 10
        """,
        und=_graph(_users(spark, sf_dir)).und,
    )


_LINKPRED_SQL = """
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    dedges AS (
      SELECT user_id AS src,
             (user_id * 7 + 13) % (SELECT count(*) FROM users) AS dst FROM users
      UNION ALL
      SELECT user_id,
             (user_id * 11 + 5) % (SELECT count(*) FROM users) FROM users),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM dedges WHERE src <> dst),
    adj AS (
      SELECT a AS v, b AS w FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT v, count(*) AS d FROM adj GROUP BY v),
    common AS (
      SELECT x.v AS va, z.v AS vb, count(*) AS cn
      FROM adj x JOIN adj z ON z.w = x.w AND x.v < z.v
      GROUP BY x.v, z.v),
    cand AS (
      SELECT c.va, c.vb, c.cn FROM common c
      LEFT JOIN und e ON e.a = c.va AND e.b = c.vb
      WHERE e.a IS NULL)
    SELECT c.va AS user_a, c.vb AS user_b,
           CAST(c.cn AS BIGINT) AS common_neighbors,
           round(CAST(c.cn AS DOUBLE) / (da.d + db.d - c.cn), 6) AS jaccard
    FROM cand c
    JOIN deg da ON da.v = c.va
    JOIN deg db ON db.v = c.vb
    ORDER BY jaccard DESC, user_a, user_b
    LIMIT 10
"""


@register("graph_jaccard_link_prediction", oracle=_LINKPRED_SQL)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction on the deterministic graph:
    for every non-adjacent vertex pair with at least one common neighbor,
    score |N(a)∩N(b)| / |N(a)∪N(b)| and rank the top-10 missing links —
    the classic neighborhood-overlap recommender
    (graph_common_neighbors's raw count, normalized by union degree so
    hubs don't dominate). The symmetric adjacency is the shuffle key
    for the wedge join (x–w–z through the shared neighbor w — candidate
    generation is wedge-bounded, the same budget as triangle counting),
    then an anti join removes existing edges and two degree joins close
    the formula."""
    g = _graph(_users(spark, sf_dir))
    return spark.sql(
        """
        WITH adj AS (SELECT u AS v, v AS w FROM {sym}),
        deg AS (SELECT v, count(*) AS d FROM adj GROUP BY v),
        common AS (
          SELECT x.v AS va, z.v AS vb, count(*) AS cn
          FROM adj x JOIN adj z ON z.w = x.w AND x.v < z.v
          GROUP BY x.v, z.v),
        cand AS (
          SELECT c.va, c.vb, c.cn FROM common c
          LEFT JOIN {und} e ON e.a = c.va AND e.b = c.vb
          WHERE e.a IS NULL)
        SELECT c.va AS user_a, c.vb AS user_b,
               CAST(c.cn AS BIGINT) AS common_neighbors,
               round(CAST(c.cn AS DOUBLE) / (da.d + db.d - c.cn), 6) AS jaccard
        FROM cand c
        JOIN deg da ON da.v = c.va
        JOIN deg db ON db.v = c.vb
        ORDER BY jaccard DESC, user_a, user_b
        LIMIT 10
        """,
        sym=g.sym,
        und=g.und,
    )


def _lpa_sql() -> str:
    """2 unrolled synchronous label-propagation rounds (shared verbatim by
    both engines — the algorithm is pure integer arithmetic, so there is
    no float divergence surface at all)."""
    rounds = []
    for k in (1, 2):
        rounds.append(
            f"""cnt{k} AS (
      SELECT e.a AS v, l.lbl, count(*) AS c
      FROM und e JOIN l{k - 1} l ON l.user_id = e.b
      GROUP BY e.a, l.lbl),
    mx{k} AS (SELECT v, max(c) AS mc FROM cnt{k} GROUP BY v),
    l{k} AS (
      SELECT c.v AS user_id, min(c.lbl) AS lbl
      FROM cnt{k} c JOIN mx{k} m ON m.v = c.v AND c.c = m.mc
      GROUP BY c.v)"""
        )
    return f"""
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    edges AS (
      SELECT user_id AS src,
             (user_id * 7 + 13) % (SELECT count(*) FROM users) AS dst
      FROM users
      UNION ALL
      SELECT user_id,
             (user_id * 11 + 5) % (SELECT count(*) FROM users) FROM users),
    und AS (
      SELECT src AS a, dst AS b FROM edges
      UNION ALL
      SELECT dst, src FROM edges),
    l0 AS (SELECT user_id, user_id AS lbl FROM users),
    {",".join(rounds)}
    SELECT lbl AS community_label,
           CAST(count(*) AS BIGINT) AS community_size
    FROM l2
    GROUP BY lbl
    ORDER BY community_size DESC, community_label
    LIMIT 10
    """


@register("graph_label_propagation", oracle=_lpa_sql())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by 2 synchronous label-propagation rounds
    (Raghavan LPA) over the seeded deterministic graph the pagerank/BFS
    family shares: every vertex starts as its own label, then adopts its
    neighbors' most frequent label with ties broken to the SMALLEST
    label — the deterministic variant of the usually randomized LPA
    (random tie-breaks could never be oracle-checked). Output: the 10
    largest community labels after round 2.

    Scale shape (100 TB): each round is one edges⋈labels shuffle join on
    the vertex key + two map-side-combinable aggregates — count per
    (vertex, label), then a single max(struct(count, -label)) per vertex
    that fuses the SQL's mx/argmin join pair into one partial-aggregable
    step. The undirected edge multiset is built ONCE and localCheckpointed
    (the graph_pagerank discipline), so neither LPA round replays the
    events scan; the label table stays vertex-sized across rounds. The r6
    verdict flagged the previous shared-CTE execution (113 shuffle
    exchanges — Spark re-executed the events-distinct build for every CTE
    reference); ``_lpa_sql()`` is now oracle text only, and a plan test
    pins the single edge build."""
    # checkpointed, not cached: a cached vertex set would stay in the
    # session and be substituted into every later op that reads _users
    users = _users(spark, sf_dir).localCheckpoint()
    # Undirected edge MULTISET (UNION ALL in the oracle — duplicate and
    # self-loop edges keep their multiplicity in the neighbor-label counts).
    directed = _graph(users).edges
    und = directed.union(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).select(F.col("src").alias("a"), F.col("dst").alias("b")).localCheckpoint()
    lbl = users.select(F.col("user_id").alias("b"), F.col("user_id").alias("lbl"))
    for _ in range(2):
        cnt = (
            und.join(lbl, "b")
            .groupBy("a", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # most frequent neighbor label, ties to the SMALLEST label:
        # max(struct(c, -lbl)) ≡ the SQL's mx⋈argmin pair in one aggregate
        lbl = cnt.groupBy("a").agg(
            F.max(F.struct(F.col("c").alias("c"), (-F.col("lbl")).alias("neg"))).alias("s")
        ).select(F.col("a").alias("b"), (-F.col("s.neg")).alias("lbl"))
    return (
        lbl.groupBy(F.col("lbl").alias("community_label"))
        .agg(F.count(F.lit(1)).cast("long").alias("community_size"))
        .orderBy(F.col("community_size").desc(), "community_label")
        .limit(10)
    )


_CC_ORACLE = """
    WITH users AS (SELECT DISTINCT user_id AS u FROM events
                   WHERE user_id IS NOT NULL),
    b AS (
      SELECT u,
             CASE WHEN u = 0
                    OR CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 4))
                            AS BIGINT) % 3 = 0
                  THEN u END AS brk
      FROM users),
    comp AS (
      SELECT u,
             max(brk) OVER (ORDER BY u
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS comp
      FROM b),
    sizes AS (SELECT comp, count(*) AS sz FROM comp GROUP BY comp)
    SELECT sz AS component_size, CAST(count(*) AS BIGINT) AS n_components
    FROM sizes GROUP BY sz ORDER BY sz
"""


#: superstep cap for the connected-components fixpoint; module-level so the
#: non-convergence raise is unit-testable with a forced tiny cap
_CC_MAX_ITER = 50


@register("graph_connected_components", oracle=_CC_ORACLE)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by iterated hash-min label propagation WITH
    pointer jumping (lbl ← lbl[lbl], the shortcutting step that makes
    GraphFrames'/Kiveris' large-star–small-star family converge in
    O(log diameter) supersteps instead of O(diameter)) — run to an
    EXACT fixed point with a changed-count early stop, not a fixed
    round budget. The graph is a deterministic segment graph on the
    user-id line: edge u−1 ↔ u exists unless u is a 'break' (md5-prefix
    integer of u ≡ 0 mod 3, the portable ml_kfold hash convention), so
    components are maximal runs between breaks and the oracle computes
    them in closed form as a running max of break ids — the iterative
    engine is validated against independent non-iterative math, not
    against a replica of itself. Output: the component-size histogram
    (bounded grain: max run length ~log N).

    Scale shape (100 TB): per superstep one edges⋈labels shuffle join on
    the vertex key + a min-combiner aggregate, then one labels⋈labels
    join for the pointer jump — both map-side-combinable, label table
    vertex-sized, edge table keeps its hash partitioning across rounds;
    localCheckpoint truncates lineage so round k's plan is one superstep
    deep. The changed-count driver scalar is one long per round.

    PRECONDITION (r6 ADVICE #1): the closed-form oracle's running-max
    walks the SORTED id line, so it only equals the segment-graph
    components when the user_id domain is dense 0..N-1 (an id gap would
    break a Spark edge but not the oracle's run). The generator has
    always produced dense ids; asserted mechanically below (one bounded
    vertex-grain aggregate) so a corpus regen that violates it fails
    loudly here instead of as a silent hash mismatch."""
    # vertex set materialized ONCE (r16): the density assertion, the edge
    # build and the label init each re-ran the scan+distinct.
    users = _users(spark, sf_dir).localCheckpoint(eager=True)
    lo, hi, n_users = users.agg(
        F.min("user_id"), F.max("user_id"), F.count(F.lit(1))
    ).first()
    assert lo == 0 and hi == n_users - 1, (
        f"user_id domain not dense 0..N-1 (min={lo}, max={hi}, n={n_users}); "
        "the segment-graph oracle's running-max closed form no longer applies"
    )
    hash_u = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 3
    )
    brk = users.select(
        "user_id",
        ((F.col("user_id") == 0) | (hash_u == 0)).alias("is_brk"),
    )
    # directed edge list checkpointed BEFORE the undirected union (r16):
    # union(edges, reversed) evaluated the brk filter pipeline once per
    # branch inside the one checkpoint job.
    ed0 = (
        brk.where((~F.col("is_brk")) & (F.col("user_id") > 0))
        .select(
            (F.col("user_id") - 1).alias("src"), F.col("user_id").alias("dst")
        )
        .localCheckpoint(eager=True)
    )
    edges = ed0.union(
        ed0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    lbl = users.select("user_id", F.col("user_id").alias("lbl")).localCheckpoint()
    converged = False
    for _ in range(_CC_MAX_ITER):
        nmin = (
            lbl.join(edges, lbl.user_id == edges.src)
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
            .select(F.col("dst").alias("user_id"), "nlbl")
        )
        stepped = (
            lbl.join(nmin, "user_id", "left")
            .select(
                "user_id",
                F.col("lbl").alias("_old"),
                F.least("lbl", "nlbl").alias("lbl"),
            )
        )
        # pointer jump through the PREVIOUS checkpointed label table, not
        # a self-join on the unmaterialized stepped frame (r16 — the
        # llm_dedup_components finding: Catalyst does not CSE across
        # self-join branches, so the nmin join+agg subtree ran twice per
        # superstep). Both jump tables drive the same monotone descent to
        # the same unique fixpoint (component-min labels) and the loop
        # only returns AT the fixpoint, so the result is identical; only
        # the superstep count can differ by O(1). The changed-flag rides
        # along inline, so the convergence check is a limit-1 scan of the
        # checkpointed superstep output instead of a shuffle join.
        ptr = lbl.select(F.col("user_id").alias("pu"), F.col("lbl").alias("plbl"))
        jlbl = F.least(F.col("lbl"), F.col("plbl"))
        jumped = (
            stepped.join(ptr, stepped.lbl == ptr.pu)
            .select(
                "user_id",
                jlbl.alias("lbl"),
                (jlbl != F.col("_old")).alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = jumped.where(F.col("_chg")).limit(1).count()
        lbl = jumped.select("user_id", "lbl")
        if changed == 0:
            converged = True
            break
    if not converged:
        # fail loudly (r16 verdict task #10): non-fixpoint labels are
        # silently wrong component ids, never a degraded-but-usable answer
        raise RuntimeError(
            f"connected components did not converge within {_CC_MAX_ITER} "
            "supersteps; refusing to return non-fixpoint labels"
        )
    sizes = lbl.groupBy("lbl").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(F.col("sz").alias("component_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"))
        .orderBy("component_size")
    )


# --------------------------------------------------------------------------
# Round 7 — graph additions (SURVEY.md §2.16)
# --------------------------------------------------------------------------

_RECIP_SQL = """
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    e AS (
      SELECT user_id AS src,
             (user_id * 7 + 13) % (SELECT count(*) FROM users) AS dst
      FROM users
      UNION ALL
      SELECT user_id,
             (user_id * 11 + 5) % (SELECT count(*) FROM users) FROM users),
    ed AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst)
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges_raw,
           CAST((SELECT count(*) FROM ed) AS BIGINT) AS n_edges_distinct,
           CAST((SELECT count(*) FROM e WHERE src = dst) AS BIGINT)
             AS n_self_loops,
           CAST((SELECT count(*) FROM ed a JOIN ed b
                 ON a.src = b.dst AND a.dst = b.src) AS BIGINT)
             AS n_reciprocal_directed,
           round((SELECT count(*) FROM ed a JOIN ed b
                  ON a.src = b.dst AND a.dst = b.src) * 1e0
                 / (SELECT count(*) FROM ed), 6) AS reciprocity
"""


@register("graph_reciprocity", oracle=_RECIP_SQL)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-graph reciprocity on the seeded functional graph the
    pagerank family shares: the share of distinct non-loop edges whose
    reverse edge also exists — the followback/mutual-link rate, the
    first asymmetry statistic any directed social/citation graph
    report leads with (plus raw/distinct/self-loop edge accounting).
    One query over the shared directed edge list: the raw and self-loop
    counts are two scalar subqueries that Spark merges into one
    aggregate, and one left join of the distinct non-loop edges against
    their reversal counts rows and matches together (reversals are
    unique because the edges are distinct, so count(r.src) is exactly
    the inner-join count)."""
    return spark.sql(
        """
        SELECT CAST((SELECT count(*) FROM {e}) AS BIGINT) AS n_edges_raw,
               CAST(count(*) AS BIGINT) AS n_edges_distinct,
               CAST((SELECT count_if(src = dst) FROM {e}) AS BIGINT)
                 AS n_self_loops,
               CAST(count(r.src) AS BIGINT) AS n_reciprocal_directed,
               round(count(r.src) / count(*), 6) AS reciprocity
        FROM (SELECT DISTINCT src, dst FROM {e} WHERE src <> dst) ed
        LEFT JOIN (SELECT DISTINCT src, dst FROM {e} WHERE src <> dst) r
          ON r.src = ed.dst AND r.dst = ed.src
        """,
        e=_graph(_users(spark, sf_dir)).edges,
    )


_TWOHOP_SQL = """
    WITH users AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id IS NOT NULL),
    e AS (
      SELECT user_id AS src,
             (user_id * 7 + 13) % (SELECT count(*) FROM users) AS dst
      FROM users
      UNION ALL
      SELECT user_id,
             (user_id * 11 + 5) % (SELECT count(*) FROM users) FROM users),
    adj AS (
      SELECT DISTINCT v, w FROM (
        SELECT src AS v, dst AS w FROM e WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM e WHERE src <> dst) u),
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree
            FROM adj GROUP BY v),
    two AS (
      SELECT DISTINCT x.v AS a, y.w AS c
      FROM adj x JOIN adj y ON y.v = x.w
      WHERE y.w <> x.v),
    reach AS (
      SELECT t.a, CAST(count(*) AS BIGINT) AS two_hop_reach
      FROM two t
      LEFT JOIN adj d ON d.v = t.a AND d.w = t.c
      WHERE d.v IS NULL
      GROUP BY t.a)
    SELECT r.a AS user_id, deg.degree, r.two_hop_reach
    FROM reach r JOIN deg ON deg.v = r.a
    ORDER BY r.two_hop_reach DESC, user_id
    LIMIT 10
"""


@register("graph_two_hop_reach", oracle=_TWOHOP_SQL)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-hop neighborhood size (friends-of-friends reach,
    excluding self and direct neighbors) on the seeded undirected
    graph — the expansion statistic that predicts how fast influence /
    BFS frontiers grow, and the top-10 hub report every social-graph
    dashboard carries. Each vertex's neighbor set is collected once
    (bounded by its degree); a vertex's two-hop set is the union of its
    neighbors' sets less itself and its own neighbors, so the candidate
    volume per vertex is bounded by degree² (≤16 here; degree-capped in
    any production run) and the work is linear in edges, never quadratic
    in vertices. The query reads the symmetric adjacency once: the
    wedge, exclusion and degree terms of the oracle's four adjacency
    reads all come from the neighbor sets, whose self-join AQE serves
    from one exchange. Vertices with an empty two-hop set are dropped,
    as the oracle's inner join drops them."""
    return spark.sql(
        """
        WITH nb AS (SELECT u AS v, collect_set(v) AS nbrs
                    FROM {sym} GROUP BY u)
        SELECT user_id, degree, two_hop_reach
        FROM (SELECT n.v AS user_id,
                     CAST(size(any_value(n.nbrs)) AS BIGINT) AS degree,
                     CAST(size(array_except(
                       array_distinct(flatten(collect_list(m.nbrs))),
                       array_union(any_value(n.nbrs), array(n.v))))
                       AS BIGINT) AS two_hop_reach
              FROM (SELECT v, nbrs, explode(nbrs) AS w FROM nb) n
              JOIN nb m ON m.v = n.w
              GROUP BY n.v)
        WHERE two_hop_reach > 0
        ORDER BY two_hop_reach DESC, user_id
        LIMIT 10
        """,
        sym=_graph(_users(spark, sf_dir)).sym,
    )


_BIPROJ_SQL = """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
           FROM ut GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS shared_users
      FROM ut a JOIN ut b ON a.user_id = b.user_id
                         AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type)
    SELECT p.type_a, p.type_b, p.shared_users,
           ta.n AS n_users_a, tb.n AS n_users_b,
           round(p.shared_users * 1e0 / least(ta.n, tb.n), 6)
             AS overlap_coef,
           round(p.shared_users * 1e0 / sqrt(ta.n * 1e0 * tb.n), 6)
             AS cosine_sim
    FROM pairs p
    JOIN tc ta ON ta.event_type = p.type_a
    JOIN tc tb ON tb.event_type = p.type_b
    ORDER BY type_a, type_b
"""


@register("graph_bipartite_projection", oracle=_BIPROJ_SQL)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the REAL user-eventtype engagement graph
    onto the event-type side: for every type pair, shared-user count
    plus overlap coefficient and cosine similarity — the co-engagement
    projection behind 'users who do A also do B' recommendations and
    the standard first step on any user-item bipartite graph. The
    oracle text is the plan: its distinct (user, type) incidence list is
    read three times, by both per-type counts and the pair join, and AQE
    reuses its one exchange. The pair join co-partitions on user_id (one
    shuffle) and the per-user pair fan-out is bounded by the 5-type enum,
    so the projection is linear in the incidence list at any scale."""
    return sql_q(spark, sf_dir, _BIPROJ_SQL)
