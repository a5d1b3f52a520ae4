"""Graph analytics over relational edges (driver north-star extension;
NOT in the reference — its surface ends at SQL orchestration,
src/execute.rs:101; iterative graph propagation also appears in
pipeline/dedup.py dedup_connected_components).

``graph_pagerank`` demonstrates the Spark-native shape for
fixed-iteration graph algorithms: build the edge list ONCE from the
fact tables (the expensive, data-sized step), aggregate it to a
weighted adjacency whose size is O(nodes^2) — metadata-sized for a
dimension graph — then run the iterations as unrolled join+aggregate
rounds on that small table. No driver-side loop state, no RDDs; each
iteration is one broadcast join + one aggregation, and with a fixed
iteration count the whole computation is a single Catalyst plan the
DuckDB oracle can mirror CTE-for-CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powersql_spark.catalog import track_checkpoint, track_persist
from powersql_spark.operators.common import sql_jround
from powersql_spark.registry import query

_DAMPING = 0.85
_N_ITER = 3


# ---------------------------------------------------------------------------
# Shared builders, one per graph idiom: the fact-sized trade-edge join tree
# and its cross-border reductions, then the metadata-sized degree table,
# symmetric adjacency and triangle join over an undirected edge frame.
# ---------------------------------------------------------------------------


def _trade_joins(spark: SparkSession) -> DataFrame:
    """The trade graph's one fact-sized step: lineitem ⋈ orders ⋈
    customer ⋈ supplier, with the two dimensions broadcast. Each row is
    one lineitem's edge ``c_nationkey -> s_nationkey`` (customer nation
    buys from supplier nation); callers add their own filter and
    aggregation."""
    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    o = spark.table("orders").select("o_orderkey", "o_custkey")
    c = F.broadcast(
        spark.table("customer").select("c_custkey", "c_nationkey")
    )
    s = F.broadcast(
        spark.table("supplier").select("s_suppkey", "s_nationkey")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
    )


def _cross_border(spark: SparkSession) -> DataFrame:
    """:func:`_trade_joins` without the self-loops (domestic trade)."""
    return _trade_joins(spark).where(
        F.col("c_nationkey") != F.col("s_nationkey")
    )


def _cross_border_pairs(spark: SparkSession) -> DataFrame:
    """Distinct directed cross-border edges ``(src, dst)``."""
    return (
        _cross_border(spark)
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .distinct()
    )


def _cross_border_weights(spark: SparkSession) -> DataFrame:
    """Directed cross-border edges ``(src, dst, w)``, w = lineitem
    count."""
    return (
        _cross_border(spark)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _above_mean_weight(spark: SparkSession) -> DataFrame:
    """The directed weighted edges whose weight exceeds the mean edge
    weight (the strong-trade graph before symmetrization). The mean is
    a single-row broadcast, not a collect."""
    raw = _cross_border_weights(spark)
    thresh = raw.agg(F.avg(F.col("w").cast("double")).alias("t"))
    return raw.join(F.broadcast(thresh)).where(
        F.col("w").cast("double") > F.col("t")
    )


def _degrees(und: DataFrame) -> DataFrame:
    """``(node, deg)``: the undirected degree of every endpoint of the
    edge frame ``und(a, b)``.

    A key that already holds the symmetric adjacency counts its rows per
    node instead, which keeps its plan: Spark serves a renaming of all of
    the cached edges' columns from the cache as is, while this union's
    one-column branches each need a Project."""
    return (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _both_ways(und: DataFrame, x: str, y: str) -> DataFrame:
    """The symmetric adjacency of ``und(a, b, ...)``: each edge once per
    direction, as columns ``(x, y)`` followed by und's other columns
    (an edge weight, say)."""
    rest = [c for c in und.columns if c not in ("a", "b")]
    return und.select(
        F.col("a").alias(x), F.col("b").alias(y), *rest
    ).unionAll(und.select(F.col("b").alias(x), F.col("a").alias(y), *rest))


def _triangles(und: DataFrame) -> DataFrame:
    """Every triangle ``(x, y, z)``, x < y < z, of the ``a < b`` edge
    frame ``und`` exactly once: the canonical ordered 3-way EQUI-join —
    the ordering kills the 6x double count and the join-explosion
    symmetry."""
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    return (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )


def _node_triangles(und: DataFrame) -> DataFrame:
    """``(node, n_tri)``: the number of triangles each node is in
    (nodes in none are absent)."""
    tri = _triangles(und)
    return (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )


@query(
    "graph_pagerank",
    oracle=f"""
    WITH edges AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY cn.n_nationkey, sn.n_nationkey
    ),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    n AS (SELECT COUNT(*) AS cnt FROM nodes),
    trans AS (
        SELECT src, dst,
               CAST(w AS DOUBLE)
                   / SUM(CAST(w AS DOUBLE)) OVER (PARTITION BY src) AS p
        FROM edges
    ),
    pr0 AS (SELECT node, 1.0 / n.cnt AS pr FROM nodes, n),
    pr1 AS (
        SELECT nodes.node,
               (1 - {_DAMPING}) / ANY_VALUE(n.cnt)
               + {_DAMPING} * COALESCE(SUM(pr0.pr * trans.p), 0) AS pr
        FROM nodes CROSS JOIN n
        LEFT JOIN trans ON trans.dst = nodes.node
        LEFT JOIN pr0 ON pr0.node = trans.src
        GROUP BY nodes.node
    ),
    pr2 AS (
        SELECT nodes.node,
               (1 - {_DAMPING}) / ANY_VALUE(n.cnt)
               + {_DAMPING} * COALESCE(SUM(pr1.pr * trans.p), 0) AS pr
        FROM nodes CROSS JOIN n
        LEFT JOIN trans ON trans.dst = nodes.node
        LEFT JOIN pr1 ON pr1.node = trans.src
        GROUP BY nodes.node
    ),
    pr3 AS (
        SELECT nodes.node,
               (1 - {_DAMPING}) / ANY_VALUE(n.cnt)
               + {_DAMPING} * COALESCE(SUM(pr2.pr * trans.p), 0) AS pr
        FROM nodes CROSS JOIN n
        LEFT JOIN trans ON trans.dst = nodes.node
        LEFT JOIN pr2 ON pr2.node = trans.src
        GROUP BY nodes.node
    )
    SELECT node AS n_nationkey, round(pr, 6) AS pagerank
    FROM pr3
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the trade graph (customer nation -> supplier
    nation, edge weight = lineitem count), 3 fixed iterations,
    damping 0.85. The simple variant: dangling mass is not
    redistributed (every nation has out-edges in this graph).

    Scale shape: the edge build is the only fact-sized work — a
    broadcast-dimension join tree and one aggregation to O(nodes^2)
    weighted edges. The iterations run on that aggregate: each is a
    join of the 25-row rank vector (broadcast) against the edge table
    + one grouped sum — constant cost regardless of corpus size, and
    unrolling a FIXED count keeps it one declarative plan (the
    convergence-loop variant is dedup_connected_components' shape).
    Rounded to 6dp: per-node inbound sums are ~25 doubles whose
    addition order differs between engines."""
    edges = (
        _trade_joins(spark)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = spark.table("nation").select(
        F.col("n_nationkey").alias("node")
    )
    # Dimension cardinality: metadata, not data (guarded for the
    # empty-input sweep — zero nodes means zero output rows anyway).
    n_nodes = nodes.count() or 1
    trans = edges.select(
        "src",
        "dst",
        (
            F.col("w").cast("double")
            / F.sum(F.col("w").cast("double")).over(
                Window.partitionBy("src")
            )
        ).alias("p"),
    )
    # The unrolled iterations each reference `trans`; without a cache
    # the plan embeds the fact-sized edge build once PER iteration
    # (exchange reuse is best-effort, not guaranteed under AQE
    # replanning). The transition matrix is O(nodes^2) — 625 rows
    # here, tiny at any corpus scale — so persist it: the edge build
    # runs once and the iteration joins read the cached rows.
    trans = track_persist(trans)
    pr = nodes.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    for _ in range(_N_ITER):
        contrib = (
            trans.join(
                F.broadcast(pr.withColumnRenamed("node", "src")), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("inbound"))
        )
        # contrib is <= one row per node (O(nations)); hint it so the
        # rank refresh is a BroadcastHashJoin in the STATIC plan, not
        # an SMJ that AQE must rescue at runtime (two exchanges + two
        # sorts on 25-row sides per iteration otherwise).
        pr = nodes.join(
            F.broadcast(contrib), nodes.node == contrib.dst, "left"
        ).select(
            "node",
            (
                F.lit((1 - _DAMPING) / n_nodes)
                + _DAMPING * F.coalesce("inbound", F.lit(0.0))
            ).alias("pr"),
        )
    return pr.select(
        F.col("node").alias("n_nationkey"),
        F.round("pr", 6).alias("pagerank"),
    )


def _strong_edges(spark: SparkSession) -> DataFrame:
    """Thresholded undirected trade edges (a < b): nation pairs whose
    lineitem count exceeds the mean edge weight. The only fact-sized
    work in the triangle/Jaccard operators — a broadcast-dimension
    join tree + one aggregation to O(nations^2) rows, persisted
    because every caller fans it into several join legs (same lesson
    as the pagerank transition matrix)."""
    return track_persist(
        _above_mean_weight(spark)
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH raw AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
        GROUP BY cn.n_nationkey, sn.n_nationkey
    ),
    thresh AS (SELECT AVG(CAST(w AS DOUBLE)) AS t FROM raw),
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM raw, thresh WHERE CAST(w AS DOUBLE) > thresh.t
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    member AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT n.n_nationkey AS node,
           CAST(COALESCE(m.n_tri, 0) AS BIGINT) AS n_triangles
    FROM nation n
    LEFT JOIN (
        SELECT node, COUNT(*) AS n_tri FROM member GROUP BY node
    ) m ON m.node = n.n_nationkey
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count over the strong-trade graph (undirected
    edges where the pair's lineitem count exceeds the mean edge
    weight) — the clustering/community primitive (triangle counting is
    the building block of clustering coefficients and spam/community
    detection).

    Scale shape: the fact tables are touched once by the edge
    aggregation (broadcast dimension tree, same as pagerank); the
    triangle enumeration is the canonical a<b<c ordered 3-way
    EQUI-join on the deduplicated edge table — the ordering kills the
    6x double-count AND the join-explosion symmetry, and on a
    thresholded dimension graph the edge table is metadata-sized. The
    mean-weight threshold is a single-row broadcast, not a collect."""
    per_node = _node_triangles(_strong_edges(spark))
    nodes = spark.table("nation").select(
        F.col("n_nationkey").alias("node")
    )
    return nodes.join(per_node, "node", "left").select(
        "node",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
    )


@query(
    "graph_jaccard_neighbors",
    oracle="""
    WITH raw AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
        GROUP BY cn.n_nationkey, sn.n_nationkey
    ),
    thresh AS (SELECT AVG(CAST(w AS DOUBLE)) AS t FROM raw),
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM raw, thresh WHERE CAST(w AS DOUBLE) > thresh.t
    ),
    adj AS (
        SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    common AS (
        SELECT x.node AS u, y.node AS v, COUNT(*) AS inter
        FROM adj x JOIN adj y
            ON x.nbr = y.nbr AND x.node < y.node
        GROUP BY x.node, y.node
    )
    SELECT c.u, c.v, c.inter,
           round(CAST(c.inter AS DOUBLE)
                 / (du.d + dv.d - c.inter), 6) AS jaccard
    FROM common c
    JOIN deg du ON du.node = c.u
    JOIN deg dv ON dv.node = c.v
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity for every node pair sharing at
    least one neighbor in the strong-trade graph — the standard
    link-prediction / role-similarity feature (two nations that trade
    with the same partners are structurally close even if they never
    trade directly).

    Scale shape: the fact tables feed the same thresholded undirected
    edge build as graph_triangle_count (broadcast dimension tree, one
    aggregation, persisted); everything after runs on the
    metadata-sized adjacency. The pair enumeration is the wedge
    EQUI-join adj⋈adj on the shared neighbor with u<v de-duplication —
    never an all-pairs product; on real graphs its output is bounded
    by sum-of-degree-squared, the same bound every triangle/similarity
    engine accepts. Counts are integers; only the final ratio is
    floating, rounded to 6dp."""
    und = _strong_edges(spark)
    adj = _both_ways(und, "node", "nbr")
    deg = adj.groupBy("node").agg(F.count("*").alias("d"))
    x, y = adj.alias("x"), F.broadcast(adj.alias("y"))
    common = (
        x.join(
            y,
            (F.col("x.nbr") == F.col("y.nbr"))
            & (F.col("x.node") < F.col("y.node")),
        )
        .groupBy(
            F.col("x.node").alias("u"), F.col("y.node").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    du = F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("du")))
    dv = F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")))
    return (
        common.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "inter",
            F.round(
                F.col("inter").cast("double")
                / (F.col("du") + F.col("dv") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )


_LPA_ITER = 2


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH raw AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
        GROUP BY cn.n_nationkey, sn.n_nationkey
    ),
    und AS (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
               SUM(w) AS w
        FROM raw GROUP BY LEAST(src, dst), GREATEST(src, dst)
    ),
    adj AS (
        SELECT a AS node, b AS nbr, w FROM und
        UNION ALL SELECT b, a, w FROM und
    ),
    l0 AS (SELECT n_nationkey AS node, n_nationkey AS lbl FROM nation),
    v1 AS (
        SELECT adj.node, l0.lbl, SUM(adj.w) AS votes
        FROM adj JOIN l0 ON l0.node = adj.nbr
        GROUP BY adj.node, l0.lbl
    ),
    p1 AS (
        SELECT node, lbl, ROW_NUMBER() OVER (
            PARTITION BY node ORDER BY votes DESC, lbl) AS rn
        FROM v1
    ),
    l1 AS (
        SELECT l0.node, COALESCE(p1.lbl, l0.lbl) AS lbl
        FROM l0 LEFT JOIN p1 ON p1.node = l0.node AND p1.rn = 1
    ),
    v2 AS (
        SELECT adj.node, l1.lbl, SUM(adj.w) AS votes
        FROM adj JOIN l1 ON l1.node = adj.nbr
        GROUP BY adj.node, l1.lbl
    ),
    p2 AS (
        SELECT node, lbl, ROW_NUMBER() OVER (
            PARTITION BY node ORDER BY votes DESC, lbl) AS rn
        FROM v2
    ),
    l2 AS (
        SELECT l1.node, COALESCE(p2.lbl, l1.lbl) AS lbl
        FROM l1 LEFT JOIN p2 ON p2.node = l1.node AND p2.rn = 1
    )
    SELECT node AS n_nationkey, lbl AS community
    FROM l2
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label propagation (community detection) over the
    undirected trade graph: every node adopts the label with the
    largest total incident edge weight among its neighbors, ties to
    the smallest label, for {_LPA_ITER} synchronized rounds. The
    community complement to dedup_connected_components (which finds
    CONNECTIVITY — LPA splits a connected graph into densely-traded
    blocks) and to graph_pagerank (importance, not membership).

    Scale shape: identical skeleton to pagerank — the fact tables
    collapse once into the persisted O(nations^2) weighted adjacency;
    each round is one broadcast join of the node-sized label vector
    against the adjacency + one (node, lbl) vote aggregate + one
    argmax window. Fixed rounds keep it a single declarative plan the
    oracle mirrors CTE-for-CTE; ties (votes DESC, lbl ASC) are
    integer-deterministic."""
    und = track_persist(
        _cross_border_weights(spark)
        .groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        ).agg(F.sum("w").alias("w"))
    )
    adj = _both_ways(und, "node", "nbr")
    nodes = spark.table("nation").select(
        F.col("n_nationkey").alias("node")
    )
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(_LPA_ITER):
        votes = (
            adj.join(
                F.broadcast(
                    labels.select(
                        F.col("node").alias("nbr"), "lbl"
                    )
                ),
                "nbr",
            )
            .groupBy("node", "lbl")
            .agg(F.sum("w").alias("votes"))
        )
        w_rank = Window.partitionBy("node").orderBy(
            F.col("votes").desc(), F.col("lbl")
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w_rank))
            .where(F.col("rn") == 1)
            .select("node", F.col("lbl").alias("new_lbl"))
        )
        # localCheckpoint the O(nations)-row label vector per round
        # (kcore/Brandes/HITS discipline): each round reads `labels`
        # twice (vote join + refresh), doubling the analyzed plan per
        # round without truncation.
        labels = (
            labels.join(F.broadcast(best), "node", "left")
            .select(
                "node",
                F.coalesce("new_lbl", "lbl").alias("lbl"),
            )
            .coalesce(1)
            .transform(track_checkpoint)
        )
    return labels.select(
        F.col("node").alias("n_nationkey"),
        F.col("lbl").alias("community"),
    )


_BFS_SRC = 0
_BFS_HOPS = 3

_STRONG_EDGES_CTE = """
    raw AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
        GROUP BY cn.n_nationkey, sn.n_nationkey
    ),
    thresh AS (SELECT AVG(CAST(w AS DOUBLE)) AS t FROM raw),
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM raw, thresh WHERE CAST(w AS DOUBLE) > thresh.t
    )
"""


@query(
    "graph_bfs_hops",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    sym AS (
        SELECT a AS src, b AS dst FROM und
        UNION ALL SELECT b, a FROM und
    ),
    d0 AS (SELECT {_BFS_SRC} AS node, 0 AS dist),
    d1 AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d0
            UNION ALL
            SELECT s.dst AS node, d.dist + 1 AS dist
            FROM sym s JOIN d0 d ON s.src = d.node
        ) GROUP BY node
    ),
    d2 AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d1
            UNION ALL
            SELECT s.dst AS node, d.dist + 1 AS dist
            FROM sym s JOIN d1 d ON s.src = d.node
        ) GROUP BY node
    ),
    d3 AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d2
            UNION ALL
            SELECT s.dst AS node, d.dist + 1 AS dist
            FROM sym s JOIN d2 d ON s.src = d.node
        ) GROUP BY node
    )
    SELECT n.n_nationkey AS node, CAST(d3.dist AS INTEGER) AS hops
    FROM nation n LEFT JOIN d3 ON d3.node = n.n_nationkey
    ORDER BY node
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS: hop distance from nation 0 over the
    strong-trade graph, 3 relaxation rounds unrolled (the
    bounded-diameter shortest-path primitive — reachability tiers,
    blast-radius analysis, friend-of-friend queries). NULL hops =
    unreachable within 3 hops.

    Scale shape: the fact tables are touched once by the shared
    strong-edge build (broadcast dimension tree); every relaxation is
    a join of the CURRENT frontier (metadata-sized, broadcast) against
    the edge table plus a min-aggregate — the classic iterative BFS
    where per-round cost is frontier-bounded, unrolled a FIXED number
    of rounds so it stays one declarative plan (same design stance as
    graph_pagerank's 3 iterations vs dedup_connected_components'
    convergence loop)."""
    sym = _both_ways(_strong_edges(spark), "src", "dst")
    dist = spark.range(1).select(
        F.lit(_BFS_SRC).cast("bigint").alias("node"),
        F.lit(0).alias("dist"),
    )
    for _ in range(_BFS_HOPS):
        relaxed = sym.join(
            F.broadcast(dist), sym.src == dist.node
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        # localCheckpoint the O(nations)-row distance table per hop
        # (kcore/HITS discipline): each hop reads `dist` twice (the
        # relax join + the union), doubling the analyzed plan per
        # round without truncation.
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .coalesce(1)
            .transform(track_checkpoint)
        )
    nodes = spark.table("nation").select(
        F.col("n_nationkey").alias("node")
    )
    return (
        nodes.join(F.broadcast(dist), "node", "left")
        .select("node", F.col("dist").cast("int").alias("hops"))
        .orderBy("node")
    )


_ASSORT_R = (
    "(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0"
    " THEN round((n * sxy - sx * sy)"
    " / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) END)"
)


@query(
    "graph_assortativity",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node
    ),
    ends AS (  -- both orientations: assortativity is symmetric
        SELECT da.d AS x, db.d AS y
        FROM und e JOIN deg da ON da.node = e.a
                   JOIN deg db ON db.node = e.b
        UNION ALL
        SELECT db.d, da.d
        FROM und e JOIN deg da ON da.node = e.a
                   JOIN deg db ON db.node = e.b
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM ends
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           {_ASSORT_R} AS assortativity,
           COALESCE({_ASSORT_R} > 0, FALSE) AS is_assortative
    FROM s
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the strong-trade graph (Newman 2002):
    the Pearson correlation of endpoint degrees over all edges (both
    orientations — the metric is symmetric). Positive = hubs trade
    with hubs (social-network shape); negative = hub-and-spoke
    (infrastructure shape) — the one-number structure diagnostic next
    to pagerank (importance), triangles (clustering), and communities
    (partition).

    Scale shape: degrees are one aggregation of the metadata-sized
    edge table; endpoint pairing is two id-keyed equi-joins; the
    correlation collapses to six INTEGER power sums (exact — degrees
    are integers, so no decimal needed), rounded once."""
    und = _strong_edges(spark)
    deg = _degrees(und)
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("dy"))
    joined = und.join(
        F.broadcast(da), F.col("a") == F.col("node_a")
    ).join(F.broadcast(db), F.col("b") == F.col("node_b"))
    ends = joined.select(
        F.col("dx").alias("x"), F.col("dy").alias("y")
    ).unionAll(
        joined.select(F.col("dy").alias("x"), F.col("dx").alias("y"))
    )
    s = ends.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (vx > 0) & (vy > 0),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(vx * vy),
            4,
        ),
    )
    return s.select(
        (n / 2).cast("bigint").alias("n_edges"),
        r.alias("assortativity"),
        F.coalesce(r > 0, F.lit(False)).alias("is_assortative"),
    )


@query(
    "graph_bipartite_projection",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    proj AS (
        SELECT a.supp AS supp_a, b.supp AS supp_b,
               COUNT(*) AS n_shared
        FROM pairs a JOIN pairs b
          ON a.cust = b.cust AND a.supp < b.supp
        GROUP BY a.supp, b.supp
    )
    SELECT supp_a, supp_b, CAST(n_shared AS BIGINT) AS n_shared
    FROM proj
    ORDER BY n_shared DESC, supp_a, supp_b
    LIMIT 50
    """,
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the customer-supplier graph: suppliers
    linked by the number of customers they share (top-50 pairs) —
    the item-item co-occurrence primitive behind collaborative
    filtering ('suppliers bought together') and substitution
    analysis. The projection of a bipartite graph is how every
    co-view/co-purchase recommender's candidate graph is built.

    Scale shape: the fact tables collapse ONCE to the distinct
    (customer, supplier) incidence list; the projection is a
    self-equi-join on the CUSTOMER key — quadratic only in per-
    customer supplier degree (bounded by order breadth, the classic
    co-occurrence bound), with an ordered pair predicate killing the
    symmetry. The top-50 cut is TakeOrderedAndProject on the
    aggregate."""
    o = spark.table("orders").select("o_orderkey", "o_custkey")
    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
        )
        .distinct()
    )
    pairs = track_persist(pairs)
    a = pairs.alias("a")
    b = pairs.alias("b")
    proj = (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.supp") < F.col("b.supp")),
        )
        .groupBy(
            F.col("a.supp").alias("supp_a"),
            F.col("b.supp").alias("supp_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return proj.orderBy(
        F.desc("n_shared"), "supp_a", "supp_b"
    ).limit(50)


_KCORE_K = 3


@query(
    "graph_kcore",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    n0 AS (
        SELECT node FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
    ),
    e1 AS (
        SELECT e.a, e.b FROM und e
        JOIN n0 x ON x.node = e.a JOIN n0 y ON y.node = e.b
    ),
    n1 AS (
        SELECT node FROM (
            SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1
        ) GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
    ),
    e2 AS (
        SELECT e.a, e.b FROM e1 e
        JOIN n1 x ON x.node = e.a JOIN n1 y ON y.node = e.b
    ),
    n2 AS (
        SELECT node, COUNT(*) AS core_degree FROM (
            SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2
        ) GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
    )
    SELECT node, CAST(core_degree AS BIGINT) AS core_degree
    FROM n2 ORDER BY node
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the strong-trade graph via two unrolled peel rounds:
    repeatedly drop nodes with degree < k and restrict the edge set to
    survivors (the community-density primitive — a k-core is the
    maximal subgraph where everyone keeps >= k ties after the
    hangers-on leave; spam rings and dense trade blocs surface as
    high-k cores). Two peels suffice on the 25-node dimension graph;
    like pagerank's fixed damping rounds, the iteration count is part
    of the declared semantics so the oracle unrolls CTE-for-CTE.

    Scale shape: the fact tables are touched once by the shared
    strong-edge build; each peel is one degree aggregation of the
    current edge set plus two semi-joins back, and the per-peel edge
    and survivor tables are localCheckpointed (the Brandes/betweenness
    discipline, graph.py:1941+) — without the checkpoint each peel
    re-references the prior peel's whole tree and the ANALYZED plan
    grows ~4x per round (~450 nodes at 2 peels; 12.6 s of mostly
    Catalyst time at sf0.1, caught by tools/scale_smoke.py r10).
    Checkpointed state is dimension-graph-sized (<= 650 edge rows /
    <= 25 nodes); on a real graph the edge table also shrinks
    monotonically so later rounds get cheaper, the classic peel
    behavior."""
    # Not _degrees: core_degree is an output column, and renaming
    # _degrees' deg column would add a Project to the final plan.
    def survivors(edges: DataFrame) -> DataFrame:
        return (
            edges.select(F.col("a").alias("node"))
            .unionAll(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("core_degree"))
            .where(F.col("core_degree") >= _KCORE_K)
        )

    edges = _strong_edges(spark)
    nodes = survivors(edges).coalesce(1).transform(track_checkpoint)
    for _ in range(2):  # unrolled peels (count is declared semantics)
        keep = F.broadcast(nodes.select("node"))
        edges = (
            edges.join(keep.withColumnRenamed("node", "a"), "a", "semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "semi")
            .select("a", "b")
            .coalesce(1)
            .transform(track_checkpoint)
        )
        nodes = survivors(edges).coalesce(1).transform(track_checkpoint)
    return nodes.select(
        "node", F.col("core_degree").cast("bigint")
    ).orderBy("node")


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pertri AS (
        SELECT node, COUNT(*) AS t FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    )
    SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(pertri.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.d >= 2 THEN
               CAST(round(CAST(CAST(2.0 * COALESCE(pertri.t, 0)
                    / (deg.d * (deg.d - 1)) AS VARCHAR)
                    AS DECIMAL(38,18)), 4) AS DOUBLE)
           ELSE 0.0 END AS local_cc
    FROM deg LEFT JOIN pertri ON pertri.node = deg.node
    ORDER BY deg.node
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: 2T(v) / d(v)(d(v)-1) —
    what fraction of a node's neighbor pairs are themselves linked
    (Watts-Strogatz 1998). The per-node refinement of
    graph_triangle_count: a hub with cc~1 sits in a clique, a hub
    with cc~0 is a broker bridging otherwise-disconnected partners.

    Scale shape: identical join skeleton to the triangle count (one
    fact-table pass for edges, ordered 3-way equi-join for triangles,
    one aggregation for degrees); the coefficient itself is arithmetic
    on two integer columns. Ratios of small integers terminate in
    decimal, so the oracle replays Spark's shortest-repr rounding."""
    und = _strong_edges(spark)
    deg = _degrees(und)
    pertri = _node_triangles(und)
    t = F.coalesce(F.col("n_tri"), F.lit(0))
    d = F.col("deg")
    cc = F.when(
        d >= 2, F.round(2.0 * t / (d * (d - 1)), 4)
    ).otherwise(F.lit(0.0))
    return (
        deg.join(pertri, "node", "left")
        .select(
            "node",
            d.cast("bigint").alias("degree"),
            t.cast("bigint").alias("n_triangles"),
            cc.alias("local_cc"),
        )
        .orderBy("node")
    )


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    sym AS (
        SELECT a AS src, b AS dst FROM und
        UNION ALL SELECT b, a FROM und
    ),
    deg AS (
        SELECT src AS node, COUNT(*) AS d FROM sym GROUP BY src
    ),
    cand AS (  -- pairs (u < v) sharing neighbor z, scored 1/ln(deg z)
        SELECT s1.dst AS u, s2.dst AS v, s1.src AS z
        FROM sym s1 JOIN sym s2
          ON s1.src = s2.src AND s1.dst < s2.dst
    ),
    scored AS (
        SELECT u, v,
               COUNT(*) AS n_common,
               SUM(1.0 / ln(deg.d)) AS aa
        FROM cand JOIN deg ON deg.node = cand.z
        WHERE deg.d >= 2
        GROUP BY u, v
    ),
    nonadj AS (
        SELECT s.u, s.v, s.n_common, s.aa FROM scored s
        LEFT JOIN und e ON e.a = s.u AND e.b = s.v
        WHERE e.a IS NULL
    )
    SELECT u, v, CAST(n_common AS BIGINT) AS n_common,
           CAST(round(CAST(CAST(aa AS VARCHAR)
                AS DECIMAL(38,18)), 4) AS DOUBLE) AS adamic_adar
    FROM nonadj
    ORDER BY adamic_adar DESC, u, v
    LIMIT 20
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the strong-trade graph: for
    every NON-adjacent pair, sum 1/ln(degree) over their common
    neighbors — rare shared neighbors count more than promiscuous
    hubs (Adamic & Adar 2003). Top-20 pairs = 'edges most likely to
    form next', the standard link-prediction baseline recommenders
    and fraud-ring detectors start from.

    Scale shape: candidate pairs come from a self-equi-join of the
    adjacency on the SHARED-NEIGHBOR key — quadratic only in per-node
    degree (the wedge bound, same as bipartite projection), never
    all-pairs. Degrees join in broadcast-sized; the non-adjacency
    check is one anti-join against the edge list; the top-20 cut is
    TakeOrderedAndProject."""
    und = _strong_edges(spark)
    # Not _both_ways: the unaliased (b, a) branch is a bare scan of the
    # cached edges, where the aliased one adds a Project.
    sym = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(und.select(F.col("b"), F.col("a")))
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    cand = s1.join(
        s2,
        (F.col("s1.src") == F.col("s2.src"))
        & (F.col("s1.dst") < F.col("s2.dst")),
    ).select(
        F.col("s1.dst").alias("u"),
        F.col("s2.dst").alias("v"),
        F.col("s1.src").alias("z"),
    )
    scored = (
        cand.join(
            F.broadcast(deg), F.col("z") == F.col("node")
        )
        .where(F.col("d") >= 2)
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(1.0 / F.log(F.col("d"))).alias("aa"),
        )
    )
    nonadj = scored.join(
        und,
        (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")),
        "anti",
    )
    return (
        nonadj.select(
            "u",
            "v",
            F.col("n_common").cast("bigint"),
            F.round("aa", 4).alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), "u", "v")
        .limit(20)
    )


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node
    ),
    hist AS (SELECT d AS degree, COUNT(*) AS n_nodes FROM deg GROUP BY d),
    tot AS (SELECT CAST(SUM(n_nodes) AS DOUBLE) AS n FROM hist)
    SELECT degree, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(round(CAST(CAST(n_nodes / tot.n AS VARCHAR)
                AS DECIMAL(38,18)), 4) AS DOUBLE) AS share,
           CAST(round(CAST(CAST(
                SUM(n_nodes) OVER (ORDER BY degree DESC) / tot.n
                AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS ccdf
    FROM hist, tot
    ORDER BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the strong-trade graph: node count,
    share, and complementary-CDF per degree (P(D >= d), the curve
    whose log-log slope diagnoses power-law vs exponential topology
    — the first plot of every network analysis, and the skew early-
    warning for joins keyed on the graph).

    Scale shape: degrees are one aggregation of the edge table, the
    histogram a second, node-count-sized aggregation; the total joins
    back as a one-row broadcast and the CCDF is a running sum over
    the histogram (degree-distinct-sized window). Shares are ratios
    of integers, so the oracle replays shortest-repr rounding."""
    hist = _degrees(_strong_edges(spark)).groupBy(
        F.col("deg").alias("degree")
    ).agg(
        F.count("*").alias("n_nodes")
    )
    tot = hist.agg(F.sum("n_nodes").cast("double").alias("n"))
    w = Window.orderBy(F.desc("degree")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        hist.join(F.broadcast(tot))
        .select(
            "degree",
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.round(F.col("n_nodes") / F.col("n"), 4).alias("share"),
            F.round(
                F.sum("n_nodes").over(w) / F.col("n"), 4
            ).alias("ccdf"),
        )
        .orderBy("degree")
    )


_HITS_DIRECTED_CTE = """
    raw AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
        GROUP BY cn.n_nationkey, sn.n_nationkey
    ),
    thresh AS (SELECT AVG(CAST(w AS DOUBLE)) AS t FROM raw),
    de AS (
        SELECT src, dst FROM raw, thresh
        WHERE CAST(w AS DOUBLE) > thresh.t
    ),
    nodes AS (SELECT n_nationkey AS node FROM nation)
"""

_HITS_NORM = (
    "CAST(SUM(CAST({col} AS DECIMAL(28,12))) AS DOUBLE)"
)


@query(
    "graph_hits",
    oracle=f"""
    WITH {_HITS_DIRECTED_CTE},
    n AS (SELECT COUNT(*) AS cnt FROM nodes),
    h0 AS (SELECT node, 1.0 / n.cnt AS h FROM nodes, n),
    a1r AS (
        SELECT nodes.node,
               COALESCE(SUM(CAST(h0.h AS DECIMAL(28,12))), 0) AS a
        FROM nodes
        LEFT JOIN de ON de.dst = nodes.node
        LEFT JOIN h0 ON h0.node = de.src
        GROUP BY nodes.node
    ),
    a1n AS (SELECT {_HITS_NORM.format(col="a")} AS s FROM a1r),
    a1 AS (
        SELECT node, CASE WHEN s > 0
                          THEN CAST(a AS DOUBLE) / s ELSE 0 END AS a
        FROM a1r, a1n
    ),
    h1r AS (
        SELECT nodes.node,
               COALESCE(SUM(CAST(a1.a AS DECIMAL(28,12))), 0) AS h
        FROM nodes
        LEFT JOIN de ON de.src = nodes.node
        LEFT JOIN a1 ON a1.node = de.dst
        GROUP BY nodes.node
    ),
    h1n AS (SELECT {_HITS_NORM.format(col="h")} AS s FROM h1r),
    h1 AS (
        SELECT node, CASE WHEN s > 0
                          THEN CAST(h AS DOUBLE) / s ELSE 0 END AS h
        FROM h1r, h1n
    ),
    a2r AS (
        SELECT nodes.node,
               COALESCE(SUM(CAST(h1.h AS DECIMAL(28,12))), 0) AS a
        FROM nodes
        LEFT JOIN de ON de.dst = nodes.node
        LEFT JOIN h1 ON h1.node = de.src
        GROUP BY nodes.node
    ),
    a2n AS (SELECT {_HITS_NORM.format(col="a")} AS s FROM a2r),
    a2 AS (
        SELECT node, CASE WHEN s > 0
                          THEN CAST(a AS DOUBLE) / s ELSE 0 END AS a
        FROM a2r, a2n
    ),
    h2r AS (
        SELECT nodes.node,
               COALESCE(SUM(CAST(a2.a AS DECIMAL(28,12))), 0) AS h
        FROM nodes
        LEFT JOIN de ON de.src = nodes.node
        LEFT JOIN a2 ON a2.node = de.dst
        GROUP BY nodes.node
    ),
    h2n AS (SELECT {_HITS_NORM.format(col="h")} AS s FROM h2r),
    h2 AS (
        SELECT node, CASE WHEN s > 0
                          THEN CAST(h AS DOUBLE) / s ELSE 0 END AS h
        FROM h2r, h2n
    )
    SELECT h2.node,
           CAST(round(CAST(CAST(h2.h AS VARCHAR)
                AS DECIMAL(38,18)), 6) AS DOUBLE) AS hub,
           CAST(round(CAST(CAST(a2.a AS VARCHAR)
                AS DECIMAL(38,18)), 6) AS DOUBLE) AS authority
    FROM h2 JOIN a2 ON a2.node = h2.node
    ORDER BY h2.node
    """,
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the DIRECTED
    strong-trade graph (customer nation -> supplier nation), two
    unrolled iterations with L1 normalization: authorities are nations
    everyone buys FROM, hubs are nations that buy from the good
    authorities — the directed complement of pagerank's single score
    (pagerank ranks endorsement flow; HITS separates the two roles).
    L1 (sum) normalization instead of the classical L2 keeps every
    intermediate a ratio of decimal-exact sums, so the oracle replays
    the run digit-for-digit; the ranking is identical either way.

    Scale shape: same one-pass fact collapse as pagerank; every
    half-iteration is one id-keyed join + one decimal aggregation on
    the metadata-sized edge list, and the normalizer is a one-row
    broadcast. No driver-side state."""
    de = track_persist(_above_mean_weight(spark).select("src", "dst"))
    nodes = spark.table("nation").select(
        F.col("n_nationkey").alias("node")
    )
    n = nodes.count() or 1  # 25-row dimension table; constant
    cur_h = nodes.select("node", F.lit(1.0 / n).alias("v"))

    def half_step(scores: DataFrame, inbound: bool) -> DataFrame:
        """One HITS half-iteration + L1 normalization."""
        key, other = ("dst", "src") if inbound else ("src", "dst")
        # Edge table and score vector are both O(nations^2)-bounded;
        # broadcast them so each of the four unrolled half-steps is a
        # static BroadcastHashJoin chain (same rationale as the
        # pagerank/katz refresh hints — AQE would rescue the SMJs at
        # runtime, but the right plan should not be conditional).
        r = (
            nodes.join(F.broadcast(de), nodes.node == de[key], "left")
            .join(
                F.broadcast(scores.withColumnRenamed("node", "peer")),
                de[other] == F.col("peer"),
                "left",
            )
            .groupBy(nodes.node)
            .agg(
                F.coalesce(
                    F.sum(F.col("v").cast("decimal(28,12)")), F.lit(0)
                ).alias("r")
            )
        )
        tot = r.agg(
            F.sum(F.col("r").cast("decimal(28,12)"))
            .cast("double")
            .alias("s")
        )
        # localCheckpoint the O(nations)-row score vector (the
        # kcore/Brandes discipline): each half-step otherwise embeds
        # the FULL prior half-step's tree, so the analyzed plan grows
        # geometrically across the four unrolled half-steps (~900
        # nodes, with Catalyst time to match) for a 25-row result.
        return (
            r.join(F.broadcast(tot))
            .select(
                "node",
                F.when(
                    F.col("s") > 0,
                    F.col("r").cast("double") / F.col("s"),
                )
                .otherwise(0.0)
                .alias("v"),
            )
            .coalesce(1)
            .transform(track_checkpoint)
        )

    for _ in range(2):  # two declared iterations
        cur_a = half_step(cur_h, inbound=True)
        cur_h = half_step(cur_a, inbound=False)
    # Checkpointed LogicalRDDs carry no size stats, so the static
    # planner cannot auto-broadcast this 25-row x 25-row final join —
    # hint it, same rationale as the pagerank/katz refresh hints.
    return (
        cur_h.withColumnRenamed("v", "hub")
        .join(
            F.broadcast(
                cur_a.withColumnRenamed("v", "authority")
                .withColumnRenamed("node", "anode")
            ),
            F.col("node") == F.col("anode"),
        )
        .select(
            "node",
            F.round("hub", 6).alias("hub"),
            F.round("authority", 6).alias("authority"),
        )
        .orderBy("node")
    )


@query(
    "graph_modularity",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    sym AS (
        SELECT a AS src, b AS dst FROM und
        UNION ALL SELECT b, a FROM und
    ),
    l0 AS (
        SELECT node, node AS lbl FROM (
            SELECT a AS node FROM und UNION SELECT b FROM und
        )
    ),
    l1 AS (
        SELECT l0.node, LEAST(l0.lbl, COALESCE(MIN(p.lbl), l0.lbl))
                   AS lbl
        FROM l0
        LEFT JOIN sym s ON s.src = l0.node
        LEFT JOIN l0 p ON p.node = s.dst
        GROUP BY l0.node, l0.lbl
    ),
    l2 AS (
        SELECT l1.node, LEAST(l1.lbl, COALESCE(MIN(p.lbl), l1.lbl))
                   AS lbl
        FROM l1
        LEFT JOIN sym s ON s.src = l1.node
        LEFT JOIN l1 p ON p.node = s.dst
        GROUP BY l1.node, l1.lbl
    ),
    l3 AS (
        SELECT l2.node, LEAST(l2.lbl, COALESCE(MIN(p.lbl), l2.lbl))
                   AS lbl
        FROM l2
        LEFT JOIN sym s ON s.src = l2.node
        LEFT JOIN l2 p ON p.node = s.dst
        GROUP BY l2.node, l2.lbl
    ),
    m AS (SELECT COUNT(*) AS m FROM und),
    internal AS (
        SELECT la.lbl AS community, COUNT(*) AS e_in
        FROM und e
        JOIN l3 la ON la.node = e.a
        JOIN l3 lb ON lb.node = e.b
        WHERE la.lbl = lb.lbl
        GROUP BY la.lbl
    ),
    degsum AS (
        SELECT l3.lbl AS community, COUNT(*) AS d_sum
        FROM sym s JOIN l3 ON l3.node = s.src
        GROUP BY l3.lbl
    ),
    members AS (
        SELECT lbl AS community, COUNT(*) AS n_nodes
        FROM l3 GROUP BY lbl
    )
    SELECT mem.community,
           CAST(mem.n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(i.e_in, 0) AS BIGINT) AS internal_edges,
           CAST(d.d_sum AS BIGINT) AS degree_sum,
           CAST(round(CAST(CAST(
                CAST(COALESCE(i.e_in, 0) AS DOUBLE) / m.m
                - (CAST(d.d_sum AS DOUBLE) / (2 * m.m))
                  * (CAST(d.d_sum AS DOUBLE) / (2 * m.m))
                AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE)
               AS q_contribution
    FROM members mem
    LEFT JOIN internal i ON i.community = mem.community
    JOIN degsum d ON d.community = mem.community
    CROSS JOIN m
    ORDER BY mem.community
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the strong-trade graph partitioned by
    three unrolled min-label-propagation rounds (each node adopts the
    smallest label in its closed neighborhood — the deterministic
    community seed): per community, member/edge/degree counts and its
    modularity contribution e_c/m - (d_c/2m)^2. Summed, that's THE
    partition-quality score community detection optimizes; near zero
    means the split is no better than random wiring.

    Scale shape: the fact tables collapse once into the shared cached
    edge list; each propagation round is one join + min-aggregate on
    the metadata-sized adjacency; the three census aggregations are
    label-keyed; every quantity stays an INTEGER until the one final
    rounded ratio, so the oracle replays the score exactly."""
    und = _strong_edges(spark)
    # Not _both_ways: see graph_adamic_adar.
    sym = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(und.select(F.col("b"), F.col("a")))
    lbl = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for _ in range(3):  # declared propagation rounds
        peer = lbl.select(
            F.col("node").alias("pnode"), F.col("lbl").alias("plbl")
        )
        # localCheckpoint the O(nations)-row label table per round
        # (kcore/Brandes/HITS discipline): each round references lbl
        # TWICE (self + peer), so without truncation the analyzed
        # plan doubles per round — ~8x the base lineage at 3 rounds,
        # pure Catalyst overhead for a 25-row state table.
        lbl = (
            lbl.join(sym, lbl.node == sym.src, "left")
            .join(peer, F.col("dst") == F.col("pnode"), "left")
            .groupBy("node", "lbl")
            .agg(
                F.least(
                    F.col("lbl"),
                    F.coalesce(F.min("plbl"), F.col("lbl")),
                ).alias("new_lbl")
            )
            .select("node", F.col("new_lbl").alias("lbl"))
            .coalesce(1)
            .transform(track_checkpoint)
        )
    # lbl exits the loop as an eagerly materialized localCheckpoint
    # RDD (already cached blocks), so the track_persist() that used to
    # guard the three census readers would be a redundant second cache
    # layer over 25 rows.
    m = und.agg(F.count("*").alias("m"))
    la = lbl.select(F.col("node").alias("na"), F.col("lbl").alias("ca"))
    lb = lbl.select(F.col("node").alias("nb"), F.col("lbl").alias("cb"))
    internal = (
        und.join(F.broadcast(la), F.col("a") == F.col("na"))
        .join(F.broadcast(lb), F.col("b") == F.col("nb"))
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("e_in"))
    )
    degsum = (
        sym.join(F.broadcast(la), F.col("src") == F.col("na"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("d_sum"))
    )
    members = lbl.groupBy(F.col("lbl").alias("community")).agg(
        F.count("*").alias("n_nodes")
    )
    e_in = F.coalesce(F.col("e_in"), F.lit(0))
    frac = e_in.cast("double") / F.col("m")
    share = F.col("d_sum").cast("double") / (2 * F.col("m"))
    return (
        members.join(internal, "community", "left")
        .join(degsum, "community")
        .join(F.broadcast(m))
        .select(
            "community",
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            e_in.cast("bigint").alias("internal_edges"),
            F.col("d_sum").cast("bigint").alias("degree_sum"),
            F.round(frac - share * share, 6).alias("q_contribution"),
        )
        .orderBy("community")
    )


_KATZ_ALPHA = 0.1
_KATZ_ITER_SQL = """
    x{k} AS (
        SELECT nodes.node,
               1.0 + {a} * COALESCE(SUM(p.x * CAST(e.w AS DOUBLE)), 0)
                   AS x
        FROM nodes
        LEFT JOIN bedges e ON e.dst = nodes.node
        LEFT JOIN x{j} p ON p.node = e.src
        GROUP BY nodes.node
    )"""


@query(
    "graph_katz_centrality",
    oracle="""
    WITH edges AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               COUNT(*) AS cnt
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY cn.n_nationkey, sn.n_nationkey
    ),
    bedges AS (
        SELECT src, dst, 1 AS w FROM edges WHERE src <> dst
    ),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    x0 AS (SELECT node, 1.0 AS x FROM nodes),__ITERS__
    SELECT node AS n_nationkey, round(x, 6) AS katz,
           CAST(ROW_NUMBER() OVER (ORDER BY round(x, 6) DESC, node)
                AS INTEGER) AS katz_rank
    FROM x3
    ORDER BY katz_rank
    """.replace(
        "__ITERS__",
        ",".join(
            _KATZ_ITER_SQL.format(k=k, j=k - 1, a=_KATZ_ALPHA)
            for k in (1, 2, 3)
        ),
    ),
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (truncated at path length 3, attenuation 0.1)
    over the BINARY nation trade graph: x = sum_k alpha^k (A^T)^k 1 —
    counts attenuated walks INTO each node, rewarding reachability
    from many places where PageRank divides influence by out-degree
    and HITS couples hubs to authorities. Self-loops dropped so the
    score reflects cross-border structure.

    Scale shape: the graph_pagerank discipline — the fact-sized work
    is the one edge-build join tree + aggregation; each unrolled
    iteration is a join of the 25-row score vector against the binary
    edge table + a grouped sum. 6dp rounding absorbs cross-engine
    inbound-sum ordering; ranking ties break on node id."""
    edges = (
        _trade_joins(spark)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    bedges = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst", F.lit(1).alias("w"))
    )
    bedges = track_persist(bedges)
    nodes = spark.table("nation").select(
        F.col("n_nationkey").alias("node")
    )
    x = nodes.select("node", F.lit(1.0).alias("x"))
    for _ in range(3):
        # The score vector is O(nations) rows; broadcast it against
        # the persisted edge table (pagerank already hints this side
        # — without it each unrolled iteration is a static SMJ).
        contrib = bedges.join(
            F.broadcast(x.withColumnRenamed("node", "src")), "src"
        ).select(
            F.col("dst").alias("node"),
            (F.col("x") * F.col("w").cast("double")).alias("c"),
        )
        # <= one row per node after the regroup; broadcast so each
        # unrolled iteration's refresh is a static BroadcastHashJoin
        # (same rationale as graph_pagerank's rank refresh).
        x = nodes.join(
            F.broadcast(contrib.groupBy("node").agg(F.sum("c").alias("s"))),
            "node",
            "left",
        ).select(
            "node",
            (
                F.lit(1.0)
                + _KATZ_ALPHA * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("x"),
        )
    wr = Window.orderBy(F.desc("katz"), "n_nationkey")
    return (
        x.select(
            F.col("node").alias("n_nationkey"),
            F.round("x", 6).alias("katz"),
        )
        .select(
            "n_nationkey",
            "katz",
            F.row_number().over(wr).cast("int").alias("katz_rank"),
        )
        .orderBy("katz_rank")
    )


@query(
    "graph_reciprocity",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT cn.n_nationkey AS src, sn.n_nationkey AS dst
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
    ),
    marked AS (
        SELECT e.src, e.dst,
               r.src IS NOT NULL AS reciprocated
        FROM edges e
        LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src
    )
    SELECT src AS n_nationkey,
           CAST(COUNT(*) AS BIGINT) AS out_degree,
           CAST(COUNT(CASE WHEN reciprocated THEN 1 END) AS BIGINT)
               AS n_reciprocated,
           CAST(ROUND(COUNT(CASE WHEN reciprocated THEN 1 END)
                      / CAST(COUNT(*) AS DOUBLE), 4) AS DOUBLE)
               AS reciprocity
    FROM marked
    GROUP BY src
    ORDER BY n_nationkey
    """,
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node edge reciprocity on the directed trade graph: of each
    nation's distinct outgoing buy-from edges, what fraction is
    matched by the reverse edge — the two-way-relationship measure
    that separates hub-and-spoke structure from mutual trade (the
    directed complement of graph_assortativity's degree mixing).
    Self-loops excluded.

    Scale shape: the fact-sized work is the one distinct-edge build;
    the reciprocity probe is an equi-join of the O(nodes^2) edge
    table against its own transpose — metadata-sized for any real
    dimension graph — and the rollup is a per-source count."""
    edges = track_persist(_cross_border_pairs(spark))
    e, r = edges.alias("e"), edges.alias("r")
    marked = e.join(
        r,
        (F.col("r.src") == F.col("e.dst"))
        & (F.col("r.dst") == F.col("e.src")),
        "left",
    ).select(
        F.col("e.src").alias("src"),
        F.col("r.src").isNotNull().alias("reciprocated"),
    )
    return (
        marked.groupBy("src")
        .agg(
            F.count("*").cast("bigint").alias("out_degree"),
            F.count(F.when(F.col("reciprocated"), 1))
            .cast("bigint")
            .alias("n_reciprocated"),
            F.round(
                F.count(F.when(F.col("reciprocated"), 1))
                / F.count("*").cast("double"),
                4,
            ).alias("reciprocity"),
        )
        .select(
            F.col("src").alias("n_nationkey"),
            "out_degree",
            "n_reciprocated",
            "reciprocity",
        )
        .orderBy("n_nationkey")
    )


_SCC_SQUARINGS = 5  # paths up to 2^5 = 32 edges > any 25-node simple path


def _scc_closure_ctes() -> str:
    """r0..r5 transitive-closure-squaring CTE chain (SQL text)."""
    steps = []
    for i in range(1, _SCC_SQUARINGS + 1):
        p = f"r{i - 1}"
        steps.append(
            f"r{i} AS (SELECT DISTINCT src, dst FROM ("
            f"SELECT src, dst FROM {p} "
            f"UNION ALL "
            f"SELECT a.src, b.dst FROM {p} a JOIN {p} b "
            f"ON a.dst = b.src) u)"
        )
    return ",\n    ".join(steps)


@query(
    "graph_scc",
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT cn.n_nationkey AS src, sn.n_nationkey AS dst
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
    ),
    r0 AS (SELECT src, dst FROM raw),
    {_scc_closure_ctes()},
    nodes AS (SELECT n_nationkey AS node FROM nation),
    mutual AS (
        SELECT p.src AS node, p.dst AS other
        FROM r{_SCC_SQUARINGS} p
        JOIN r{_SCC_SQUARINGS} q ON p.src = q.dst AND p.dst = q.src
        UNION ALL
        SELECT node, node FROM nodes
    ),
    scc AS (SELECT node, MIN(other) AS scc_id FROM mutual GROUP BY node)
    SELECT node AS n_nationkey, scc_id,
           COUNT(*) OVER (PARTITION BY scc_id) AS scc_size
    FROM scc
    """,
)
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT strongly connected components of the directed trade graph
    (customer nation -> supplier nation): transitive closure by
    {_SCC_SQUARINGS} unrolled squaring rounds (reach <= 2^{_SCC_SQUARINGS}
    = 32 edges, which exceeds the longest possible simple path on 25
    nations, so the closure is complete — not a bounded-hop
    approximation like the fixed-round propagation keys), then
    scc_id(v) = min over nodes mutually reachable with v. The
    directed-connectivity complement of dedup_connected_components
    (undirected) and graph_label_propagation (communities).

    Scale shape: the single data-sized step is the distinct edge
    aggregation from the fact tables; every squaring round is a
    self-join + distinct on the O(nations^2)-bounded closure table
    (<= 625 rows), i.e. metadata-sized compute exactly like pagerank's
    iterations. On a billion-node graph you'd swap the squaring for
    partitioned min-label rounds; at dimension-graph size the exact
    closure is the honest, cheapest plan."""
    r = track_persist(_cross_border_pairs(spark))
    # The closure only ever GROWS (unionAll + distinct over a superset),
    # so an unchanged row count after a squaring is a fixpoint: every
    # remaining round would pay an eager checkpoint job to rebuild an
    # identical <= 625-row frame. The count is a local read on the
    # checkpointed single-partition state (Brandes early-exit
    # discipline); the closure is COMPLETE either way — the squaring
    # bound 2^rounds only has to exceed the realized diameter, which
    # the fixpoint certifies directly.
    n_prev = r.count()
    for _ in range(_SCC_SQUARINGS):
        hop = (
            r.alias("a")
            .join(r.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        # Checkpoint each round: the closure frame is referenced three
        # times by the next round (itself + both sides of the hop
        # join) and twice by the final mutual join, so without lineage
        # truncation the logical plan re-expands 3^k-fold (OOM in the
        # plan printer long before any data pressure). The frame is
        # <= nations^2 rows, so the eager materialization is constant
        # work per round.
        r = r.unionAll(hop).distinct().coalesce(1).transform(track_checkpoint)
        n = r.count()
        if n == n_prev:
            break
        n_prev = n
    mutual = (
        r.alias("p")
        .join(
            r.alias("q"),
            (F.col("p.src") == F.col("q.dst"))
            & (F.col("p.dst") == F.col("q.src")),
        )
        .select(F.col("p.src").alias("node"), F.col("p.dst").alias("other"))
    )
    nodes = spark.table("nation").select(F.col("n_nationkey").alias("node"))
    mutual = mutual.unionAll(nodes.select("node", F.col("node").alias("other")))
    scc = mutual.groupBy("node").agg(F.min("other").alias("scc_id"))
    w = Window.partitionBy("scc_id")
    return scc.select(
        F.col("node").alias("n_nationkey"),
        "scc_id",
        F.count("*").over(w).alias("scc_size"),
    )


_BFS_ROUNDS = 6  # covers diameter <= 6; exactness replayed in tests


def _bfs_ctes() -> str:
    """f2..f7 / acc1..acc6 frontier-expansion CTE chain (SQL text):
    level-synchronous all-sources BFS carrying shortest-path counts."""
    steps = []
    for l in range(2, _BFS_ROUNDS + 2):
        p, a = f"f{l - 1}", f"acc{l - 2}"
        steps.append(
            f"f{l} AS MATERIALIZED ("
            f"SELECT g.src, adj.nbr AS dst, {l} AS d,"
            f" SUM(g.sigma) AS sigma "
            f"FROM f{l - 1} g JOIN adj ON g.dst = adj.node "
            f"LEFT JOIN {a} seen ON seen.src = g.src"
            f" AND seen.dst = adj.nbr "
            f"WHERE seen.src IS NULL "
            f"GROUP BY g.src, adj.nbr)"
        )
        steps.append(
            f"acc{l - 1} AS MATERIALIZED (SELECT * FROM {a} UNION ALL "
            f"SELECT src, dst, d, sigma FROM f{l})"
        )
    return ",\n    ".join(steps)


@query(
    "graph_betweenness",
    oracle=f"""
    WITH raw AS MATERIALIZED (
        SELECT DISTINCT cn.n_nationkey AS src, sn.n_nationkey AS dst
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
    ),
    und AS MATERIALIZED (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM raw
    ),
    adj AS MATERIALIZED (
        SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und
    ),
    f1 AS MATERIALIZED (
        SELECT node AS src, nbr AS dst, 1 AS d,
               CAST(1 AS BIGINT) AS sigma
        FROM adj
    ),
    acc0 AS MATERIALIZED (
        SELECT n_nationkey AS src, n_nationkey AS dst, 0 AS d,
               CAST(1 AS BIGINT) AS sigma
        FROM nation
        UNION ALL SELECT * FROM f1
    ),
    {_bfs_ctes()},
    paths AS MATERIALIZED (SELECT * FROM acc{_BFS_ROUNDS}),
    contrib AS (
        SELECT sv.dst AS v,
               sv.sigma * vt.sigma * 1e0 / st.sigma AS c
        FROM paths sv
        JOIN paths vt ON vt.src = sv.dst
        JOIN paths st ON st.src = sv.src AND st.dst = vt.dst
        WHERE sv.d + vt.d = st.d
          AND sv.src <> vt.dst
          AND sv.dst <> sv.src AND sv.dst <> vt.dst
    )
    SELECT n.n_nationkey,
           {sql_jround(
               "COALESCE(CAST(SUM(CAST(round(c.c, 10)"
               " AS DECIMAL(38,10))) AS DOUBLE), 0e0) / 2.0", 6)}
               AS betweenness
    FROM nation n LEFT JOIN contrib c ON c.v = n.n_nationkey
    GROUP BY n.n_nationkey
    ORDER BY n.n_nationkey
    """,
)
def graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT betweenness centrality of the undirected trade graph:
    level-synchronous all-sources BFS ({_BFS_ROUNDS} unrolled rounds,
    carrying shortest-path counts sigma per frontier), then the
    Brandes pair-dependency sum B(v) = sum over (s,t) with
    d(s,v)+d(v,t)=d(s,t) of sigma_sv * sigma_vt / sigma_st, halved for
    the undirected double count. Exact whenever the diameter is within
    the unrolled rounds — asserted against a full Python BFS replay in
    tests, trivially true for the dense 25-nation trade graph, and
    (ADVICE r6) guarded at runtime: after the unrolled rounds a final
    frontier expansion must find nothing unseen, else the query raises
    instead of returning silently truncated centralities.
    Completes the centrality ladder beside graph_pagerank (flow),
    graph_katz_centrality (walks) and graph_hits (authority).

    Scale shape: the one data-sized step is the distinct-edge
    aggregation; every BFS round and the dependency join run on the
    checkpointed O(nations^2) distance/count table (<= 650 rows), with
    per-round localCheckpoint cutting the re-expanding lineage exactly
    like graph_scc. Per-pair contributions are 10dp-decimal-pinned, so
    the centrality is engine- and partition-order-exact."""
    und = _cross_border_pairs(spark).select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    nodes = spark.table("nation").select(F.col("n_nationkey").alias("node"))
    return _brandes_unrolled(und, nodes)


def _brandes_unrolled(und: DataFrame, nodes: DataFrame) -> DataFrame:
    """Unrolled-BFS + Brandes dependency sum over an undirected edge
    frame ``und(a, b)`` and a node universe ``nodes(node)``. Split from
    graph_betweenness so the diameter guard is testable on synthetic
    graphs (a path graph longer than _BFS_ROUNDS+1 must raise)."""
    adj = (
        _both_ways(und, "node", "nbr")
        .coalesce(1)
        .transform(track_checkpoint)
    )
    # Checkpointed so the first frontier-vs-adjacency join is not an
    # ambiguous self-join (f1 is derived from adj).
    # ONE checkpoint per BFS round: the frontier is exactly the rows of
    # the accumulated table at the current distance (f == acc.where(d ==
    # l-1) — every row enters acc with the d of the round that found
    # it), so checkpointing f separately doubled the eager job count
    # for no lineage benefit. localCheckpoint is eager, and these ~15
    # sequential tiny jobs were ~2 s of the bench's timed plan build
    # (the r13 split-timing measurement: 2.0 s build / 0.25 s exec);
    # deriving f by a local filter on the checkpointed acc halves that.
    f1 = adj.select(
        F.col("node").alias("src"),
        F.col("nbr").alias("dst"),
        F.lit(1).alias("d"),
        F.lit(1).cast("bigint").alias("sigma"),
    )
    acc = (
        nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(0).alias("d"),
            F.lit(1).cast("bigint").alias("sigma"),
        )
        .unionAll(f1)
        .coalesce(1)
        .transform(track_checkpoint)
    )
    for l in range(2, _BFS_ROUNDS + 2):
        f = acc.where(F.col("d") == l - 1)
        # Early exit once the frontier empties: an empty frontier makes
        # acc a fixpoint, so the remaining unrolled rounds would each
        # pay an eager checkpoint job (the dominant cost of this query
        # — sequential ~0.2 s driver round trips) only to re-materialize
        # an unchanged acc. The check is a local read on the
        # checkpointed single-partition frame. Results are identical by
        # construction, and the diameter guard below still fires when
        # the graph outruns the unroll (f is then non-empty at every
        # round, so the loop never breaks early).
        if f.isEmpty():
            break
        hop = (
            f.join(adj, f.dst == adj.node)
            .groupBy(f.src, adj.nbr)
            .agg(F.sum("sigma").alias("sigma"))
            .select(
                F.col("src"),
                F.col("nbr").alias("dst"),
                F.lit(l).alias("d"),
                "sigma",
            )
        )
        new = hop.join(
            acc.select("src", "dst"), ["src", "dst"], "left_anti"
        )
        # LAZY checkpoint: the next round's frontier isEmpty() probe
        # (or the post-loop guard) is the immediate action that
        # materializes it — one driver job per round instead of two.
        # Single partition (coalesce(1)), so that probe computes the
        # whole frame; LocalRDDCheckpointData would fill in any
        # missing partition with its own job anyway.
        acc = (
            acc.unionAll(new)
            .coalesce(1)
            .transform(lambda df: track_checkpoint(df, eager=False))
        )
    f = acc.where(F.col("d") == _BFS_ROUNDS + 1)
    # ADVICE r6: the unrolled BFS is exact only while the diameter is
    # <= _BFS_ROUNDS + 1; on a sparser edge distribution it would
    # silently drop longer shortest paths. Guard loudly: one more
    # expansion from the final frontier must find nothing unseen.
    # Constant-cost — the frontier is empty by round ~3 on any
    # realistic trade graph, and the frame is checkpointed and <= 650
    # rows, so this is a sub-millisecond count, not a data-sized job.
    # ADVICE r7: the frontier is checkpointed, so isEmpty() is a cheap
    # local read — skip the join job entirely in the (typical) case
    # where the last round already found nothing new.
    if not f.isEmpty():
        leftover = (
            f.join(adj, f.dst == adj.node)
            .select(f.src, adj.nbr.alias("dst"))
            .join(acc.select("src", "dst"), ["src", "dst"], "left_anti")
        )
        if leftover.limit(1).count() > 0:
            raise RuntimeError(
                "graph_betweenness: BFS frontier not exhausted after "
                f"{_BFS_ROUNDS} unrolled rounds — graph diameter exceeds "
                f"{_BFS_ROUNDS + 1}, centrality would be silently "
                "truncated. Raise _BFS_ROUNDS for this edge distribution."
            )
    sv = acc.alias("sv")
    vt = acc.alias("vt")
    st = acc.alias("st")
    contrib = (
        sv.join(vt, F.col("sv.dst") == F.col("vt.src"))
        .join(
            st,
            (F.col("st.src") == F.col("sv.src"))
            & (F.col("st.dst") == F.col("vt.dst")),
        )
        .where(
            (F.col("sv.d") + F.col("vt.d") == F.col("st.d"))
            & (F.col("sv.src") != F.col("vt.dst"))
            & (F.col("sv.dst") != F.col("sv.src"))
            & (F.col("sv.dst") != F.col("vt.dst"))
        )
        .select(
            F.col("sv.dst").alias("v"),
            (
                F.col("sv.sigma") * F.col("vt.sigma") * 1e0
                / F.col("st.sigma")
            ).alias("c"),
        )
    )
    out = (
        nodes.join(contrib, nodes.node == contrib.v, "left")
        .groupBy(nodes.node)
        .agg(
            (
                F.coalesce(
                    F.sum(
                        F.round(F.col("c"), 10).cast("decimal(38,10)")
                    ).cast("double"),
                    F.lit(0.0),
                )
                / 2.0
            ).alias("b_raw")
        )
    )
    return out.select(
        F.col("node").alias("n_nationkey"),
        F.round("b_raw", 6).alias("betweenness"),
    ).orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# Round-11 distance-centrality family: all-pairs shortest paths on the
# thresholded trade graph (25 nodes), then closeness / harmonic /
# eccentricity readouts, plus the degree-stratified rich-club curve.
# ---------------------------------------------------------------------------

_APSP_ROUNDS = 5  # covers diameter <= 5; guard raises loudly beyond


def _apsp_expand_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT src, node, MIN(dist) AS dist FROM (
            SELECT src, node, dist FROM {prev}
            UNION ALL
            SELECT d.src, s.dst AS node, d.dist + 1 AS dist
            FROM sym s JOIN {prev} d ON s.src_n = d.node
        ) GROUP BY src, node
    )"""


_APSP_CTE = (
    _STRONG_EDGES_CTE
    + """,
    sym AS (
        SELECT a AS src_n, b AS dst FROM und
        UNION ALL SELECT b, a FROM und
    ),
    d0 AS (
        SELECT n_nationkey AS src, n_nationkey AS node, 0 AS dist
        FROM nation
    )"""
    + ","
    + ",".join(
        _apsp_expand_sql(f"d{i}", f"d{i + 1}")
        for i in range(_APSP_ROUNDS)
    )
    + f""",
    dist AS (SELECT * FROM d{_APSP_ROUNDS})
"""
)


def _apsp_dist(spark: SparkSession) -> DataFrame:
    """All-pairs shortest-path table (src, node, dist) over the
    thresholded undirected trade graph, by {_APSP_ROUNDS} unrolled
    multi-source min-plus rounds on a checkpointed O(nations^2) state
    (<= 625 rows — the kcore/Brandes lineage discipline). Unreachable
    pairs are absent. Guard: one extra round must not shrink any
    distance, else the diameter exceeded the unroll and the
    centralities would silently truncate (the Brandes guard applied
    to the multi-source case)."""
    sym = (
        _both_ways(_strong_edges(spark), "src_n", "dst")
        .coalesce(1)
        .transform(track_checkpoint)
    )
    dist = (
        spark.table("nation")
        .select(
            F.col("n_nationkey").alias("src"),
            F.col("n_nationkey").alias("node"),
            F.lit(0).alias("dist"),
        )
        .coalesce(1)
        .transform(track_checkpoint)
    )

    def expand(d: DataFrame) -> DataFrame:
        hop = (
            sym.join(
                F.broadcast(d.withColumnRenamed("node", "src_n")),
                "src_n",
            )
            .select("src", F.col("dst").alias("node"),
                    (F.col("dist") + 1).alias("dist"))
        )
        return (
            d.unionAll(hop)
            .groupBy("src", "node")
            .agg(F.min("dist").alias("dist"))
            .coalesce(1)
            .transform(track_checkpoint)
        )

    for _ in range(_APSP_ROUNDS):
        nxt = expand(dist)
        # Fixpoint early exit (the Brandes empty-frontier discipline):
        # expand is deterministic, so an unchanged round means every
        # remaining round AND the convergence guard are identity — each
        # would pay an eager checkpoint job for an unchanged <= 625-row
        # state. The anti-join runs on two checkpointed single-partition
        # frames (same predicate as the guard below), so detecting the
        # fixpoint costs one tiny job where the skipped rounds cost a
        # checkpoint each. Returns the same row set by construction.
        if nxt.join(
            dist, ["src", "node", "dist"], "left_anti"
        ).isEmpty():
            return dist
        dist = nxt
    # Loud convergence guard (constant-cost: both frames are
    # checkpointed <= 625-row states) — only reached when every
    # unrolled round still changed something.
    extra = expand(dist)
    changed = (
        extra.join(dist, ["src", "node", "dist"], "left_anti")
        .limit(1)
        .count()
    )
    if changed:
        raise RuntimeError(
            "_apsp_dist: distances still shrinking after "
            f"{_APSP_ROUNDS} unrolled rounds — graph diameter exceeds "
            f"{_APSP_ROUNDS}, centralities would be silently "
            "truncated. Raise _APSP_ROUNDS for this edge distribution."
        )
    return dist


@query(
    "graph_closeness_centrality",
    oracle=f"""
    WITH {_APSP_CTE}
    SELECT src AS n_nationkey,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reachable,
           round(CAST(COUNT(*) - 1 AS DOUBLE)
                 / NULLIF(SUM(dist), 0), 6) AS closeness
    FROM dist
    GROUP BY src
    ORDER BY n_nationkey
    """,
)
def graph_closeness_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closeness centrality per nation on the thresholded trade
    graph: (number of reachable peers) / (sum of shortest-path
    distances to them) — the "how few hops to everyone" centrality,
    computed on the reachable component so disconnected nodes score
    by their own component (the Wasserman-Faust convention without
    the component scaling, reported with n_reachable so the
    denominator is auditable).

    Scale shape: the distance table comes from {_APSP_ROUNDS}
    multi-source min-plus rounds on a checkpointed O(nations^2)
    state — the edge build is the only fact-sized step; the readout
    is one aggregation of <= 625 integer rows."""
    dist = _apsp_dist(spark)
    return (
        dist.groupBy(F.col("src").alias("n_nationkey"))
        .agg(
            (F.count("*") - 1).cast("bigint").alias("n_reachable"),
            F.round(
                (F.count("*") - 1).cast("double")
                / F.nullif(F.sum("dist"), F.lit(0)),
                6,
            ).alias("closeness"),
        )
        .orderBy("n_nationkey")
    )


@query(
    "graph_harmonic_centrality",
    oracle=f"""
    WITH {_APSP_CTE}
    SELECT src AS n_nationkey,
           CAST(COUNT(CASE WHEN dist > 0 THEN 1 END) AS BIGINT)
               AS n_reachable,
           CAST(SUM(CASE WHEN dist > 0
                THEN CAST(round(1.0 / dist, 8) AS DECIMAL(38,8))
                ELSE CAST(0 AS DECIMAL(38,8)) END) AS DOUBLE)
               AS harmonic
    FROM dist
    GROUP BY src
    ORDER BY n_nationkey
    """,
)
def graph_harmonic_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Harmonic centrality per nation: sum of 1/d over all other
    nodes (unreachable contribute 0) — the centrality that stays
    well-defined on disconnected graphs, where closeness needs a
    component convention; Boldi-Vigna's recommended replacement.
    Reported unnormalized (divide by n-1 downstream for the [0,1]
    form).

    Scale shape: same checkpointed APSP state as closeness; the
    reciprocal terms are 8dp-rounded and decimal-summed, so the
    score is exact and order-independent."""
    dist = _apsp_dist(spark)
    recip = F.when(
        F.col("dist") > 0,
        F.round(1.0 / F.col("dist"), 8).cast("decimal(38,8)"),
    ).otherwise(F.lit(0).cast("decimal(38,8)"))
    return (
        dist.groupBy(F.col("src").alias("n_nationkey"))
        .agg(
            F.count(F.when(F.col("dist") > 0, 1))
            .cast("bigint")
            .alias("n_reachable"),
            F.sum(recip).cast("double").alias("harmonic"),
        )
        .orderBy("n_nationkey")
    )


@query(
    "graph_eccentricity",
    oracle=f"""
    WITH {_APSP_CTE},
    ecc AS (
        SELECT src AS n_nationkey,
               CAST(MAX(dist) AS BIGINT) AS eccentricity,
               CAST(COUNT(*) - 1 AS BIGINT) AS n_reachable
        FROM dist GROUP BY src
    ),
    summ AS (
        SELECT CAST(MAX(eccentricity) AS BIGINT) AS diameter,
               CAST(MIN(eccentricity) AS BIGINT) AS radius
        FROM ecc WHERE n_reachable > 0
    )
    SELECT e.n_nationkey, e.eccentricity, e.n_reachable,
           s.diameter, s.radius,
           e.eccentricity = s.radius AND e.n_reachable > 0 AS is_center
    FROM ecc e, summ s
    ORDER BY e.n_nationkey
    """,
)
def graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eccentricity per nation (its farthest reachable peer's
    distance) with the graph diameter, radius, and center flags —
    the worst-case-hops view of the trade graph: diameter bounds any
    BFS/propagation unroll (and is exactly what sized this family's
    _APSP_ROUNDS), centers are where a coordinator would sit.

    Scale shape: one MAX/COUNT aggregation of the checkpointed APSP
    state; the diameter/radius summary is a second constant-sized
    aggregate broadcast back onto the 25 node rows. All integer
    arithmetic."""
    dist = _apsp_dist(spark)
    ecc = dist.groupBy(F.col("src").alias("n_nationkey")).agg(
        F.max("dist").cast("bigint").alias("eccentricity"),
        (F.count("*") - 1).cast("bigint").alias("n_reachable"),
    )
    summ = ecc.where(F.col("n_reachable") > 0).agg(
        F.max("eccentricity").cast("bigint").alias("diameter"),
        F.min("eccentricity").cast("bigint").alias("radius"),
    )
    return (
        ecc.crossJoin(F.broadcast(summ))
        .select(
            "n_nationkey",
            "eccentricity",
            "n_reachable",
            "diameter",
            "radius",
            (
                (F.col("eccentricity") == F.col("radius"))
                & (F.col("n_reachable") > 0)
            ).alias("is_center"),
        )
        .orderBy("n_nationkey")
    )


@query(
    "graph_rich_club",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM und
            UNION ALL SELECT b FROM und
        ) GROUP BY node
    ),
    ks AS (SELECT gs.k FROM generate_series(1, 12) AS gs(k)),
    club AS (
        SELECT ks.k,
               CAST((SELECT COUNT(*) FROM deg
                     WHERE deg.deg > ks.k) AS BIGINT) AS n_k,
               CAST((SELECT COUNT(*) FROM und e
                     JOIN deg da ON da.node = e.a
                     JOIN deg db ON db.node = e.b
                     WHERE da.deg > ks.k AND db.deg > ks.k)
                    AS BIGINT) AS e_k
        FROM ks
    )
    SELECT CAST(k AS BIGINT) AS k, n_k, e_k,
           round(2.0 * e_k / (CAST(n_k AS DOUBLE) * (n_k - 1)), 6)
               AS phi
    FROM club
    WHERE n_k > 1
    ORDER BY k
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient curve phi(k) = 2 E_k / (N_k (N_k - 1)):
    among nations of degree > k, what fraction of possible edges
    exist? A rising curve means the high-degree trade hubs
    preferentially interconnect (a rich club — systemic-risk core);
    flat means hubs spread their edges. The degree-stratified
    companion of graph_assortativity's single correlation number.

    Scale shape: degrees are one aggregation of the O(nations^2)
    edge table; each k stratum is a broadcast semi-filtered count of
    the same constant-sized tables over a 12-row k spine — no
    fact-sized work beyond the shared edge build."""
    und = _strong_edges(spark)
    deg = _degrees(und)
    ks = spark.range(1, 13).select(F.col("id").alias("k"))
    edge_deg = und.join(
        F.broadcast(deg.withColumnRenamed("node", "a_n")),
        F.col("a") == F.col("a_n"),
    ).join(
        F.broadcast(
            deg.select(
                F.col("node").alias("b_n"), F.col("deg").alias("degb")
            )
        ),
        F.col("b") == F.col("b_n"),
    ).select("a", "b", F.col("deg").alias("dega"), "degb")
    n_k = (
        ks.join(
            F.broadcast(deg), F.col("deg") > F.col("k"), "left"
        )
        .groupBy("k")
        .agg(F.count("node").cast("bigint").alias("n_k"))
    )
    e_k = (
        ks.join(
            F.broadcast(edge_deg),
            (F.col("dega") > F.col("k")) & (F.col("degb") > F.col("k")),
            "left",
        )
        .groupBy("k")
        .agg(F.count("a").cast("bigint").alias("e_k"))
    )
    return (
        n_k.join(e_k, "k")
        .where(F.col("n_k") > 1)
        .select(
            F.col("k").cast("bigint").alias("k"),
            "n_k",
            "e_k",
            F.round(
                2.0
                * F.col("e_k")
                / (F.col("n_k").cast("double") * (F.col("n_k") - 1)),
                6,
            ).alias("phi"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Round-12 widening: whole-graph distance summary, global transitivity,
# tie-strength structure, and link prediction on the thresholded trade
# graph. All reuse the shared edge/APSP machinery (one fact-sized edge
# build; every readout is metadata-sized).
# ---------------------------------------------------------------------------


@query(
    "graph_wiener_index",
    oracle=f"""
    WITH {_APSP_CTE},
    pairs AS (
        SELECT src, node, dist FROM dist WHERE src < node
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation)
    SELECT CAST(SUM(p.dist) AS BIGINT) AS wiener_index,
           CAST(COUNT(*) AS BIGINT) AS n_pairs_reachable,
           CAST(nn.n * (nn.n - 1) / 2 AS BIGINT) AS n_pairs_total,
           CAST(nn.n * (nn.n - 1) / 2 - COUNT(*) AS BIGINT)
               AS n_pairs_unreachable,
           round(CAST(SUM(p.dist) AS DOUBLE) / COUNT(*), 6)
               AS avg_path_length
    FROM pairs p, nn
    GROUP BY nn.n
    """,
)
def graph_wiener_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wiener index of the thresholded trade graph: the sum of
    shortest-path distances over unordered reachable pairs, with the
    average path length and the unreachable-pair count — the
    one-number compactness summary ("how many hops does a random
    introduction take"), the whole-graph complement of the per-node
    closeness/harmonic keys that share this APSP state.

    Scale shape: one aggregation of the checkpointed O(nations^2)
    APSP table ({_APSP_ROUNDS} unrolled min-plus rounds, the
    closeness-centrality lineage); all integer arithmetic except the
    final average."""
    dist = _apsp_dist(spark)
    pairs = dist.where(F.col("src") < F.col("node"))
    nn = spark.table("nation").agg(
        F.count("*").cast("bigint").alias("n")
    )
    total = (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
    return (
        pairs.crossJoin(F.broadcast(nn))
        .groupBy("n")
        .agg(
            F.sum("dist").cast("bigint").alias("wiener_index"),
            F.count("*").cast("bigint").alias("n_pairs_reachable"),
            F.round(
                F.sum("dist").cast("double") / F.count("*"), 6
            ).alias("avg_path_length"),
        )
        .select(
            "wiener_index",
            "n_pairs_reachable",
            total.alias("n_pairs_total"),
            (total - F.col("n_pairs_reachable"))
            .cast("bigint")
            .alias("n_pairs_unreachable"),
            "avg_path_length",
        )
    )


@query(
    "graph_transitivity_global",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM und
            UNION ALL SELECT b FROM und
        ) GROUP BY node
    ),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    wedge AS (
        SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
        FROM deg
    )
    SELECT t.n_tri AS n_triangles, w.n_wedges,
           round(3.0 * t.n_tri / w.n_wedges, 6) AS transitivity
    FROM tri t, wedge w
    WHERE w.n_wedges > 0
    """,
)
def graph_transitivity_global(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global transitivity (the triangle-to-wedge ratio 3T/W) of the
    thresholded trade graph: what fraction of connected triples
    close into triangles — the WHOLE-graph clustering number, which
    weights hubs by their wedge count and so can differ sharply from
    graph_clustering_coefficient's unweighted per-node average
    (the classic Watts-Strogatz vs Newman distinction; shipping both
    makes the divergence auditable).

    Scale shape: the shared thresholded edge build is the only
    fact-sized step; the triangle join and degree wedge sum run on
    the O(nations^2) edge table; output is one row of integers plus
    one ratio."""
    und = _strong_edges(spark)
    tri = _triangles(und).agg(F.count("*").cast("bigint").alias("n_tri"))
    wedge = _degrees(und).agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges")
    )
    return (
        tri.crossJoin(F.broadcast(wedge))
        .where(F.col("n_wedges") > 0)
        .select(
            F.col("n_tri").alias("n_triangles"),
            "n_wedges",
            F.round(
                3.0 * F.col("n_tri") / F.col("n_wedges"), 6
            ).alias("transitivity"),
        )
    )


@query(
    "graph_local_bridges",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    sym AS (
        SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym GROUP BY node
    ),
    common AS (
        SELECT e.a, e.b, CAST(COUNT(sb.node) AS BIGINT) AS n_common
        FROM und e
        LEFT JOIN sym sa ON sa.node = e.a
        LEFT JOIN sym sb ON sb.node = e.b AND sb.nbr = sa.nbr
        GROUP BY e.a, e.b
    )
    SELECT c.a, c.b, c.n_common,
           da.deg AS deg_a, db.deg AS deg_b,
           round(CAST(c.n_common AS DOUBLE)
                 / (da.deg + db.deg - 2 - c.n_common), 6)
               AS embeddedness,
           c.n_common = 0 AS is_local_bridge
    FROM common c
    JOIN deg da ON da.node = c.a
    JOIN deg db ON db.node = c.b
    ORDER BY c.a, c.b
    """,
)
def graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge embeddedness and local bridges on the thresholded trade
    graph: for every edge, the number of common neighbors of its
    endpoints, the Jaccard embeddedness common/(deg_a + deg_b - 2 -
    common), and the local-bridge flag (zero common neighbors — the
    edge is its endpoints' only short connection, span > 2).
    Granovetter's tie-strength structure: local bridges are the weak
    ties information crosses communities on; high-embeddedness edges
    are intra-community. Complements graph_jaccard_neighbors (which
    scores NODE pairs) by scoring the EDGES themselves.

    The embeddedness denominator counts the union of OTHER neighbors
    (each endpoint's degree minus the edge itself), so a guard is
    unnecessary: it is 0 only when both endpoints have degree 1, in
    which case n_common = 0 and the edge reports NULL embeddedness
    on both engines (0/0 -> NULL via DuckDB and Spark division of
    integers... both produce NULL only for NULL inputs, so the 0/0
    case is pinned explicitly below).

    Scale shape: one shared edge build; the common-neighbor count is
    an (edge x neighbor) equi-join on the O(nations^2) tables."""
    und = _strong_edges(spark)
    sym = _both_ways(und, "node", "nbr")
    deg = sym.groupBy("node").agg(
        F.count("*").cast("bigint").alias("deg")
    )
    sa = sym.alias("sa")
    sb = sym.alias("sb")
    common = (
        und.alias("e")
        .join(sa, F.col("sa.node") == F.col("e.a"), "left")
        .join(
            sb,
            (F.col("sb.node") == F.col("e.b"))
            & (F.col("sb.nbr") == F.col("sa.nbr")),
            "left",
        )
        .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .agg(F.count("sb.node").cast("bigint").alias("n_common"))
    )
    da = deg.select(
        F.col("node").alias("a"), F.col("deg").alias("deg_a")
    )
    db = deg.select(
        F.col("node").alias("b"), F.col("deg").alias("deg_b")
    )
    j = common.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    denom = (
        F.col("deg_a") + F.col("deg_b") - 2 - F.col("n_common")
    )
    return j.select(
        "a",
        "b",
        "n_common",
        "deg_a",
        "deg_b",
        F.when(
            denom > 0,
            F.round(F.col("n_common").cast("double") / denom, 6),
        ).alias("embeddedness"),
        (F.col("n_common") == 0).alias("is_local_bridge"),
    ).orderBy("a", "b")


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    sym AS (
        SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym GROUP BY node
    ),
    cand AS (  -- non-adjacent pairs among nodes with >= 1 edge
        SELECT d1.node AS a, d2.node AS b,
               d1.deg AS deg_a, d2.deg AS deg_b
        FROM deg d1 JOIN deg d2 ON d1.node < d2.node
        WHERE NOT EXISTS (SELECT 1 FROM und e
                          WHERE e.a = d1.node AND e.b = d2.node)
    ),
    scored AS (
        SELECT c.a, c.b, c.deg_a, c.deg_b,
               CAST(COUNT(dz.node) AS BIGINT) AS common_neighbors,
               CAST(SUM(CAST(round(1.0 / dz.deg, 8)
                             AS DECIMAL(38,8))) AS DOUBLE)
                   AS resource_allocation
        FROM cand c
        LEFT JOIN sym sa ON sa.node = c.a
        LEFT JOIN sym sb ON sb.node = c.b AND sb.nbr = sa.nbr
        LEFT JOIN deg dz ON dz.node = sb.nbr
        GROUP BY c.a, c.b, c.deg_a, c.deg_b
    )
    SELECT a, b, common_neighbors,
           CAST(deg_a * deg_b AS BIGINT) AS pref_attachment,
           -- no final rounding: the decimal-sum is already exact at
           -- 8dp and a 6dp round could land on a true half-boundary
           -- where the engines' rounding modes diverge
           COALESCE(resource_allocation, 0) AS resource_allocation
    FROM scored
    ORDER BY a, b
    """,
)
def graph_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Link-prediction scores for every NON-adjacent nation pair (both
    endpoints active in the thresholded trade graph): common-neighbor
    count, preferential attachment (deg_a * deg_b), and resource
    allocation (sum of 1/deg over common neighbors — the
    Zhou-Lu-Zhang score that consistently wins CN-family benchmarks).
    graph_adamic_adar ranks EXISTING structure; this key scores the
    absent edges — "which trade link forms next" — which is the
    actual link-prediction task.

    Scale shape: candidates are deg x deg over active nodes
    (O(nations^2), metadata-sized) anti-joined against the edge
    list; common-neighbor resolution is the same equi-join as the
    bridges key; 1/deg terms are 8dp-rounded decimal sums. At corpus
    scale the candidate set is bounded by the entity graph, never by
    fact rows."""
    und = _strong_edges(spark)
    sym = _both_ways(und, "node", "nbr")
    deg = sym.groupBy("node").agg(
        F.count("*").cast("bigint").alias("deg")
    )
    d1 = deg.select(
        F.col("node").alias("a"), F.col("deg").alias("deg_a")
    )
    d2 = deg.select(
        F.col("node").alias("b"), F.col("deg").alias("deg_b")
    )
    cand = d1.join(
        F.broadcast(d2), F.col("a") < F.col("b")
    ).join(und, ["a", "b"], "left_anti")
    sa = sym.alias("sa")
    sb = sym.alias("sb")
    dz = deg.select(
        F.col("node").alias("z"), F.col("deg").alias("deg_z")
    ).alias("dz")
    scored = (
        cand.alias("c")
        .join(sa, F.col("sa.node") == F.col("c.a"), "left")
        .join(
            sb,
            (F.col("sb.node") == F.col("c.b"))
            & (F.col("sb.nbr") == F.col("sa.nbr")),
            "left",
        )
        .join(dz, F.col("dz.z") == F.col("sb.nbr"), "left")
        .groupBy(
            F.col("c.a").alias("a"),
            F.col("c.b").alias("b"),
            F.col("c.deg_a").alias("deg_a"),
            F.col("c.deg_b").alias("deg_b"),
        )
        .agg(
            F.count("dz.z").cast("bigint").alias("common_neighbors"),
            F.sum(
                F.round(1.0 / F.col("dz.deg_z"), 8).cast(
                    "decimal(38,8)"
                )
            )
            .cast("double")
            .alias("resource_allocation"),
        )
    )
    return scored.select(
        "a",
        "b",
        "common_neighbors",
        (F.col("deg_a") * F.col("deg_b"))
        .cast("bigint")
        .alias("pref_attachment"),
        F.coalesce(F.col("resource_allocation"), F.lit(0.0)).alias(
            "resource_allocation"
        ),
    ).orderBy("a", "b")


@query(
    "graph_small_world",
    oracle=f"""
    WITH {_APSP_CTE},
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM und
            UNION ALL SELECT b FROM und
        ) GROUP BY node
    ),
    base AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_active,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges
    ),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    wedge AS (
        SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
        FROM deg
    ),
    pl AS (
        SELECT CAST(SUM(dist) AS DOUBLE) / COUNT(*) AS l_obs
        FROM dist WHERE src < node
    ),
    comp AS (
        SELECT b.n_active, b.n_edges,
               3.0 * t.n_tri / w.n_wedges AS c_obs,
               p.l_obs,
               2.0 * b.n_edges
                   / (CAST(b.n_active AS DOUBLE) * (b.n_active - 1))
                   AS c_rand,
               round(ln(CAST(b.n_active AS DOUBLE)), 8)
                   / round(ln(2.0 * b.n_edges / b.n_active), 8)
                   AS l_rand
        FROM base b, tri t, wedge w, pl p
        WHERE w.n_wedges > 0 AND b.n_active > 1
          AND 2.0 * b.n_edges / b.n_active > 1
    )
    SELECT n_active, n_edges,
           round(c_obs, 6) AS clustering_global,
           round(l_obs, 6) AS avg_path_length,
           round(c_rand, 6) AS c_random,
           round(l_rand, 6) AS l_random,
           round((c_obs / c_rand) / (l_obs / l_rand), 4)
               AS sigma_small_world,
           (c_obs / c_rand) / (l_obs / l_rand) > 1 AS is_small_world
    FROM comp
    """,
)
def graph_small_world(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-world coefficient sigma = (C/C_rand)/(L/L_rand) of the
    thresholded trade graph (Humphries-Gurney): observed global
    transitivity and average shortest-path length against the
    Erdos-Renyi analytic baselines C_rand = density = 2E/(n(n-1))
    and L_rand = ln(n)/ln(mean degree). sigma >> 1 is the
    Watts-Strogatz signature (locally clustered yet globally short)
    — the one-number topology classification that tells you whether
    hub-based routing / community detection assumptions apply.
    Composes this family's own machinery: the transitivity ratio,
    the APSP path lengths, and the degree table, all from the shared
    edge build; ln terms 8dp-rounded (libm discipline). Guarded to
    mean degree > 1 and n > 1 (the ER length formula's domain).

    Scale shape: one shared fact-sized edge build; everything else
    is arithmetic over the checkpointed APSP state and O(nations)
    degree rows — five 1-row frames broadcast together."""
    und = _strong_edges(spark)
    deg = _degrees(und)
    base = deg.agg(
        F.count("*").cast("bigint").alias("n_active")
    ).crossJoin(
        F.broadcast(
            und.agg(F.count("*").cast("bigint").alias("n_edges"))
        )
    )
    tri = _triangles(und).agg(F.count("*").cast("bigint").alias("n_tri"))
    wedge = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges")
    )
    dist = _apsp_dist(spark)
    pl = dist.where(F.col("src") < F.col("node")).agg(
        (F.sum("dist").cast("double") / F.count("*")).alias("l_obs")
    )
    comp = (
        base.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedge))
        .crossJoin(F.broadcast(pl))
    )
    n_act = F.col("n_active").cast("double")
    kbar = 2.0 * F.col("n_edges") / F.col("n_active")
    c_obs = 3.0 * F.col("n_tri") / F.col("n_wedges")
    c_rand = 2.0 * F.col("n_edges") / (n_act * (F.col("n_active") - 1))
    l_rand = F.round(F.log(n_act), 8) / F.round(F.log(kbar), 8)
    sigma = (c_obs / c_rand) / (F.col("l_obs") / l_rand)
    return (
        comp.where(
            (F.col("n_wedges") > 0)
            & (F.col("n_active") > 1)
            & (kbar > 1)
        )
        .select(
            "n_active",
            "n_edges",
            F.round(c_obs, 6).alias("clustering_global"),
            F.round(F.col("l_obs"), 6).alias("avg_path_length"),
            F.round(c_rand, 6).alias("c_random"),
            F.round(l_rand, 6).alias("l_random"),
            F.round(sigma, 4).alias("sigma_small_world"),
            (sigma > 1).alias("is_small_world"),
        )
    )
