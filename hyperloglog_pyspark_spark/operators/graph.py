"""Graph analytics as relational iteration: PageRank over the nation
trade graph (customer-nation → supplier-nation edges mined from the
order/lineitem fact tables).

Why integer arithmetic: iterative float ops accumulate engine-specific
rounding, so a float PageRank can never hash-match a cross-engine oracle.
Scaling ranks to integers (S = 10^12) and using only floor division and
integer multiply/add makes every iteration bit-identical in Spark and
DuckDB — the oracle unrolls the same three iterations as CTE stages.
(Same determinism discipline as the md5-hash sampling operators.)

Scale posture: the node-sized rank frame is put on ONE partition once,
and each round reads it once — ranks ⟕ broadcast (src, dst, outdeg)
edge frame, exploded into contribution, dangling and zero self rows, one
groupBy sum and a ``sum(d) over ()`` dangling total — so no round adds an
exchange and all rounds run in a single stage. Dangling mass (rank
parked on nodes with no out-edges) is redistributed uniformly each round
— dropping it leaks total mass and under-ranks everything downstream of
sinks. The plan grows linearly with the round count; only very deep runs
localCheckpoint the rank frame, every ``PR_CHECKPOINT_EVERY`` rounds, so
building the 3-round query runs no job and the plan memo keeps it. A rank
frame too big for one partition would shuffle each round on ``k``.
The reference has no graph surface (HLL sketch library only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hyperloglog_pyspark_spark.registry import checkpoint_rounds, register, tracked_persist
from hyperloglog_pyspark_spark.sources.catalog import literal_frame, load_table

PR_SCALE = 10**12  # integer rank scale
PR_ITERS = 3
PR_N = 25  # nations
# localCheckpoint cadence in rounds (0 disables); never fires at PR_ITERS.
# At 50 rounds on the nation graph (4 cores) the uncut plan took 1.5 s to
# plan and 9-10 s to run; cutting every 16 rounds took 0.03 s and 0.6-0.7 s
# (every 10: more checkpoint jobs; every 25: 0.5 s and 3.3 s).
PR_CHECKPOINT_EVERY = 16


_EDGES_SQL = """
        SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        WHERE cn.n_name <> sn.n_name
"""


def _pagerank_oracle() -> str:
    base = PR_SCALE // PR_N
    teleport = (PR_SCALE * 15) // (100 * PR_N)
    sql = f"""
    WITH edges AS ({_EDGES_SQL}),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    it0 AS (SELECT n_name AS node, CAST({base} AS BIGINT) AS rank FROM nation)
    """
    prev = "it0"
    for i in range(1, PR_ITERS + 1):
        # Dangling mass: rank parked on nodes with no out-edges, split
        # uniformly (floor) — the same integer term the Spark side adds.
        sql += f""",
    dang{i} AS (
        SELECT COALESCE(SUM(rank), 0) // {PR_N} AS dm
        FROM {prev} WHERE node NOT IN (SELECT src FROM deg)
    ),
    it{i} AS (
        SELECT n.n_name AS node,
               CAST({teleport} + (85 * (COALESCE(SUM(r.rank // d.outdeg), 0)
                    + (SELECT dm FROM dang{i}))) // 100
                    AS BIGINT) AS rank
        FROM nation n
        LEFT JOIN edges e ON e.dst = n.n_name
        LEFT JOIN deg d ON d.src = e.src
        LEFT JOIN {prev} r ON r.node = e.src
        GROUP BY n.n_name
    )"""
        prev = f"it{i}"
    sql += f"""
    SELECT node, rank AS rank_scaled,
           ROUND(rank / {float(PR_SCALE)}, 8) AS rank_norm
    FROM {prev}
    """
    return sql


def pagerank_scaled(
    nodes: DataFrame,
    edges: DataFrame,
    n_nodes: int,
    iters: int = PR_ITERS,
    checkpoint_every: int = PR_CHECKPOINT_EVERY,
) -> DataFrame:
    """Damped (d=0.85) integer-scaled PageRank with explicit dangling-mass
    redistribution.

    ``nodes``: one ``node`` column. ``edges``: ``src``/``dst`` pairs
    (deduplicated, both ends in ``nodes``). ``n_nodes`` is passed in,
    never counted here — no driver-side actions inside operators.

    Each round reads the one-partition rank frame once: ranks ⟕ the
    broadcast (src, dst, outdeg) edge frame, each joined row exploded
    into a contribution row ``(dst, rank div outdeg)``, a dangling row
    (``rank`` when the node has no out-edges) and a zero self-row (every
    node keeps a group), then one ``groupBy(k)`` summing ``s`` and ``d``;
    new rank = teleport + (85 · (s + Σd div N)) div 100, all floor
    arithmetic. Σd is ``sum(d) over ()``: a global window, but over a
    node-sized frame already on one partition, so neither it nor the
    aggregate adds an exchange. Every ``checkpoint_every`` rounds (0
    disables) the rank frame goes through ``checkpoint_rounds``.
    """
    out = F.broadcast(
        edges.selectExpr("src", "dst", "count(1) OVER (PARTITION BY src) AS outdeg")
    )
    base = PR_SCALE // n_nodes
    teleport = (PR_SCALE * 15) // (100 * n_nodes)
    ranks = nodes.coalesce(1).withColumn("rank", F.lit(base).cast("long"))
    rows = F.expr(
        "inline(array("
        "named_struct('k', coalesce(dst, node), 'c', coalesce(rank div outdeg, 0L),"
        " 'd', if(outdeg IS NULL, rank, 0L)),"
        " named_struct('k', node, 'c', 0L, 'd', 0L)))"
    )
    for i in range(iters):
        ranks = (
            ranks.join(out, F.col("node") == F.col("src"), "left")
            .select(rows)
            .groupBy(F.col("k").alias("node"))
            .agg(F.sum("c").alias("s"), F.sum("d").alias("d"))
            .selectExpr(
                "node",
                f"{teleport} + (85 * (s + sum(d) over () div {n_nodes})) div 100 AS rank",
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = checkpoint_rounds(ranks)
    return ranks


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer-nation → supplier-nation trade edges mined from
    the fact tables (the one fact-scale stage of every graph query here):
    one orderkey join plus four broadcast dims, then a src/dst distinct."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(F.broadcast(cu), od["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(na).withColumnRenamed("n_name", "src"), cu["c_nationkey"] == F.col("n_nationkey"))
        .drop("n_nationkey")
        .join(
            F.broadcast(na).withColumnRenamed("n_name", "dst"),
            su["s_nationkey"] == F.col("n_nationkey"),
        )
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


@register("graph_pagerank_nations", category="analytics", bench=True, oracle=_pagerank_oracle())
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three damped PageRank iterations (d = 0.85, teleport mass uniform,
    dangling mass redistributed) over the distinct customer-nation →
    supplier-nation trade edges, in scaled integer arithmetic so the
    result is bit-exact cross-engine. The rank frame stays node-sized on
    one partition, so its ``sum(d) over ()`` dangling-total window adds
    no exchange; only the edge extraction touches fact-table scale."""
    edges = _trade_edges(spark, sf_dir)
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nodes = na.select(F.col("n_name").alias("node"))
    ranks = pagerank_scaled(nodes, edges, n_nodes=PR_N)
    return ranks.select(
        "node",
        F.col("rank").alias("rank_scaled"),
        F.round(F.col("rank") / float(PR_SCALE), 8).alias("rank_norm"),
    )


_UEDGES_SQL = f"""
        SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        FROM ({_EDGES_SQL}) d
        GROUP BY 1, 2
"""


@register(
    "graph_triangle_count",
    category="analytics",
    bench=True,
    oracle=f"""
    WITH uedges AS ({_UEDGES_SQL}),
    tris AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM uedges e1
        JOIN uedges e2 ON e2.u = e1.v
        JOIN uedges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pernode AS (
        SELECT node, COUNT(*) AS n_triangles FROM (
            SELECT a AS node FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        ) GROUP BY node
    ),
    deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT u AS node FROM uedges UNION ALL SELECT v FROM uedges
        ) GROUP BY node
    )
    SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
           ROUND(COALESCE(p.n_triangles, 0) * 2.0
                 / (d.degree * (d.degree - 1)), 6) AS clustering_coeff
    FROM deg d LEFT JOIN pernode p ON p.node = d.node
    WHERE d.degree >= 2
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts and local clustering coefficients over the
    undirected nation trade graph (edges canonicalized LEAST/GREATEST and
    deduplicated from the same customer→supplier extraction PageRank uses).

    The count uses the oriented wedge join: with every edge stored once as
    (u < v), a triangle a<b<c is found exactly once as e1=(a,b), e2=(b,c),
    e3=(a,c) — no double counting, no symmetric blow-up. Scale posture:
    this is the standard distributed triangle enumeration — wedge
    generation shuffles on the pivot vertex, closure check is an equi-join
    back to the edge list; at real graph scale the orientation is by
    (degree, id) instead of id so high-degree hubs don't own all wedges
    (documented, id-orientation kept here because the oracle must replay
    it exactly). Only the edge extraction touches fact-table scale; the
    triangle joins run on the deduplicated edge list."""
    directed = _trade_edges(spark, sf_dir)
    uedges = tracked_persist(
        directed.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        ).distinct()
    )
    e2 = uedges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = uedges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tris = (
        uedges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .join(e2, "b")
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    pernode = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        uedges.select(F.col("u").alias("node"))
        .unionAll(uedges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(F.broadcast(pernode), "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "node",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.coalesce("n_triangles", F.lit(0)) * 2.0
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )


BFS_SOURCE = "NATION_1"  # a real node of the synthetic nation table —
# seeding a non-node (the old "FRANCE") made BFS vacuously return its
# seed row; with a live source the frontier genuinely expands
BFS_MAX_DEPTH = 4


@register(
    "graph_bfs_levels",
    category="graph",
    bench=True,
    oracle=f"""
    WITH RECURSIVE edges AS ({_EDGES_SQL}),
    bfs(node, lvl) AS (
        SELECT '{BFS_SOURCE}' AS node, 0 AS lvl
        UNION
        SELECT e.dst, bfs.lvl + 1
        FROM bfs JOIN edges e ON e.src = bfs.node
        WHERE bfs.lvl < {BFS_MAX_DEPTH}
    )
    SELECT node, CAST(MIN(lvl) AS BIGINT) AS level
    FROM bfs GROUP BY node
    """,
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search over the nation trade graph: every node's
    shortest hop distance from the BFS_SOURCE nation (nodes unreachable
    within BFS_MAX_DEPTH hops absent) — the reachability/shortest-path primitive beside
    PageRank (importance), connected components (partition), and
    triangles (density). The frontier-expansion loop is the standard
    relational BFS: frontier ⋈ edges → dedupe against visited → next
    frontier, each round one join + one distinct.

    Scale: per round, only the FRONTIER (node-sized) joins the edge
    list — broadcast when node-sized, shuffle-keyed at billion-edge
    scale — and the visited set grows monotonically (union + min-level
    agg at the end instead of per-round anti-joins would also work; the
    anti-join form keeps frontiers minimal). Each round's frontier is
    localCheckpoint-ed (the components lineage rule): without
    it the anti-join re-embeds every earlier round's subplan at every
    reference and the unrolled plan grows combinatorially — the audit
    measured 100 exchanges at depth 4 versus ~10 with the checkpoint.
    Oracle: DuckDB's recursive CTE walks the identical expansion with
    UNION-dedup.
    """
    edges = tracked_persist(_trade_edges(spark, sf_dir))
    spark_sess = edges.sparkSession
    visited = literal_frame(spark_sess, [(BFS_SOURCE, 0)], "node string, level long")
    frontier = visited
    for depth in range(1, BFS_MAX_DEPTH + 1):
        nxt = (
            F.broadcast(frontier)
            .join(edges, edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(depth))
        )
        # lineage cut every OTHER round: between checkpoints the frontier
        # subplan re-embeds at most twice (nxt references frontier and
        # visited once each), so the plan stays bounded while the eager
        # materialization jobs halve (guide §1.2: fewer jobs, same
        # growth bound; the fully-unchained form measured 8.6 s vs 2.9 s
        # at depth 4 — the cut itself stays load-bearing).
        if depth % 2 == 0 and depth < BFS_MAX_DEPTH:
            nxt = checkpoint_rounds(nxt)
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.groupBy("node").agg(F.min("level").alias("level"))
