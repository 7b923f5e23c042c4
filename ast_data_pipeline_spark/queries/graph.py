"""Graph analytics over the relational tables — iterative algorithms
kept bit-exact across engines via fixed-point integer arithmetic.

The near-dup clustering operator
(operators/dedup.neardup_clusters_star) already covers connected components; this module adds the other
canonical distributed-graph workload, PageRank, expressed as plain
DataFrame joins + aggregations (the GraphX/Pregel loop is just
``join edges -> groupBy dst -> sum`` per superstep — no RDDs needed).

Determinism strategy (same spirit as x_kmeans_lloyd_exact's decimal
means): ranks live as BIGINT fixed-point (1.0 == 10^9). Every step is
integer division and integer sums, which both engines evaluate
identically regardless of aggregation order — so three full supersteps
stay under the driver's value-hash gate. Float PageRank would differ
in low bits by partial-agg order; fixed-point is also how you'd make a
100 TB PageRank run reproducible across cluster layouts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ast_data_pipeline_spark.lineage import lineage_cut_lazy

from ..functions.exact import dsum, dsum_sql
from ..registry import register
from ..sources.catalog import load

_PR_ITERS = 3
_FP = 1_000_000_000  # fixed-point scale: 1.0 rank unit


_PAGERANK_ORACLE = f"""
WITH RECURSIVE
pairs AS (
  SELECT DISTINCT 'c' || o.o_custkey::VARCHAR AS c_node,
                  's' || l.l_suppkey::VARCHAR AS s_node
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c_node AS src, s_node AS dst FROM pairs
  UNION ALL
  SELECT s_node AS src, c_node AS dst FROM pairs
),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
pr(iter, node, rank) AS (
  SELECT 0, src, {_FP}::BIGINT FROM deg
  UNION ALL
  SELECT p.iter + 1, e.dst,
         {_FP * 15 // 100} + (85 * sum(p.rank // d.deg)) // 100
  FROM pr p
  JOIN deg d ON p.node = d.src
  JOIN edges e ON e.src = p.node
  WHERE p.iter < {_PR_ITERS}
  GROUP BY p.iter + 1, e.dst
)
SELECT node, rank FROM pr WHERE iter = {_PR_ITERS}
"""


@register(
    "x_pagerank",
    oracle=_PAGERANK_ORACLE,
    doc="Fixed-point PageRank over the undirected customer-supplier "
    "trade graph (edge iff a customer ordered from a supplier; both "
    "directions, so no dangling nodes): 3 full supersteps of "
    "rank' = 0.15 + 0.85 * sum(rank/deg), all in BIGINT fixed-point "
    "(1.0 == 1e9; integer division + integer sums are "
    "aggregation-order-independent, so the iterated result is "
    "bit-identical across engines AND cluster layouts — the float "
    "version is not). Spark side is the Pregel superstep as "
    "DataFrames: join(ranks, edges on src) -> groupBy(dst) -> sum, "
    "one key-shuffle per iteration, degree table joined on the same "
    "src key; DuckDB twin is a recursive CTE. At 100 TB: pre-partition "
    "edges by src so each superstep is a co-located join plus one "
    "shuffle on dst.",
    tags=("extension", "iterative", "graph"),
)
def x_pagerank(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c_node"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s_node"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst")
    ).unionAll(pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst")))
    # Lazy localCheckpoint (the dedup-CC idiom): every superstep joins
    # the edge table, and without the lineage cut each iteration would
    # re-derive lineitem->orders->distinct from scratch — the plan
    # re-executes the base derivation once per superstep (observed 19 s
    # -> ~3 s at sf0.1). Same trick MLlib uses in iterative algorithms.
    edges = edges.transform(lineage_cut_lazy)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(deg, "src")

    ranks = deg.select(F.col("src").alias("node"), F.lit(_FP).cast("long").alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = edges_deg.join(
            ranks, edges_deg.src == ranks.node
        ).select("dst", F.expr("rank div deg").alias("contrib"))
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
            .select(
                F.col("dst").alias("node"),
                F.expr(f"{_FP * 15 // 100} + (85 * s) div 100").alias("rank"),
            )
        )
    return ranks


_TRIANGLE_ORACLE = """
WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
deg AS (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dst
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e2.src = e1.src AND e2.dst <> e1.dst
  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
)
SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
       (SELECT count(*) FROM edges)::BIGINT AS n_edges,
       (SELECT sum(deg * (deg - 1) // 2) FROM deg)::BIGINT AS n_wedges,
       n_triangles,
       3.0 * n_triangles / (SELECT sum(deg * (deg - 1) // 2) FROM deg)::DOUBLE
         AS global_clustering
FROM tri
"""


@register(
    "x_triangle_count",
    oracle=_TRIANGLE_ORACLE,
    doc="Degree-oriented triangle counting over the part co-order "
    "graph (parts are adjacent iff some order contains both). The "
    "classic distributed formulation (Cohen / Suri-Vassilvitskii "
    "MapReduce triangle counting): canonicalize edges (u<v), orient "
    "every edge from its lower-(degree, id) endpoint to the higher "
    "one, and count paths e1=(a,b), e2=(a,c) closed by e3=(b,c). "
    "Orientation makes each triangle counted exactly once AND bounds "
    "the join fan-out per node by O(sqrt(E)) on skewed graphs — the "
    "all-pairs wedge join without orientation explodes on hub nodes. "
    "Output is the one-row graph census (nodes, edges, wedges, "
    "triangles, global clustering 3T/W — a single IEEE division, "
    "bit-exact both engines). At 100 TB: edges pre-partitioned by "
    "src co-locate both wedge-join probes; the per-order pair "
    "explosion is bounded by max order width (7 here), never "
    "quadratic in the table.",
    tags=("extension", "graph"),
)
def x_triangle_count(spark, sf_dir):
    pp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    b = pp.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("v")
    )
    edges = (
        pp.join(b, (pp.l_orderkey == b.o2) & (pp.l_partkey < b.v))
        .select(F.col("l_partkey").alias("u"), "v")
        .distinct()
    )
    # The wedge join consumes `edges` three times; cut the lineage so
    # the per-order pair explosion runs once (the pagerank idiom).
    edges = edges.transform(lineage_cut_lazy)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    lower = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .transform(lineage_cut_lazy)
    )
    e2 = oriented.select(F.col("src").alias("src2"), F.col("dst").alias("dst2"))
    e3 = oriented.select(F.col("src").alias("src3"), F.col("dst").alias("dst3"))
    # Scale adjudication (r9 sf1 proof, PROGRESS.jsonl): the first sf1
    # measurement read 64.5 MB -> 7.4 GB shuffle (115x for 10x edges),
    # which is a BROADCAST-THRESHOLD artifact, not quadratic growth —
    # at sf0.1 `oriented` fits the 64 MB broadcast and the wedge
    # stream never travels; at sf1 it doesn't, so the stream shuffles
    # once. The algorithmic quantities scale exactly 10x (wedges,
    # triangles, edges — disjoint replica subgraphs), and a rewrite
    # that pre-aggregated wedges by closing pair (b,c) to force
    # map-side combine was measured STRICTLY WORSE: same 7.4 GB at
    # sf1 (the pairs are too spread for partial combine) while
    # forfeiting the broadcast plan at small scale (750 MB and +48%
    # wall at sf0.1). The raw wedge stream at 3 BIGINTs/row IS the
    # minimal payload; orientation already bounds its size by
    # sum(outdeg^2). Keep the broadcast-when-possible form.
    tri = (
        oriented.join(
            e2, (F.col("src2") == F.col("src")) & (F.col("dst2") != F.col("dst"))
        )
        .join(e3, (F.col("src3") == F.col("dst")) & (F.col("dst3") == F.col("dst2")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    census = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("sum(deg * (deg - 1) div 2)").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(census)
        .crossJoin(n_edges)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges").cast("double")).alias(
                "global_clustering"
            ),
        )
    )


_KCORE_K = 48
_KCORE_ROUNDS = 3

_KCORE_EDGES_SQL = """
pairs AS (
  SELECT DISTINCT 'c' || o.o_custkey::VARCHAR AS c_node,
                  's' || l.l_suppkey::VARCHAR AS s_node
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c_node AS src, s_node AS dst FROM pairs
  UNION ALL
  SELECT s_node AS src, c_node AS dst FROM pairs
)
"""


def _kcore_oracle() -> str:
    # fixed peel rounds unrolled as plain CTEs (a recursive CTE may
    # reference itself only once, but each round needs the remaining
    # set on BOTH edge endpoints)
    ctes = ["r0 AS (SELECT DISTINCT src AS node FROM edges)"]
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"r{r} AS (SELECT e.src AS node FROM edges e "
            f"JOIN r{r - 1} a ON e.src = a.node "
            f"JOIN r{r - 1} b ON e.dst = b.node "
            f"GROUP BY 1 HAVING count(*) >= {_KCORE_K})"
        )
    rounds = "\nUNION ALL\n".join(
        f"SELECT {r}::INT AS round, (SELECT count(*) FROM r{r})::BIGINT AS n_nodes"
        for r in range(_KCORE_ROUNDS + 1)
    )
    return f"WITH {_KCORE_EDGES_SQL}, {', '.join(ctes)}\n{rounds}"


@register(
    "x_kcore_peel",
    oracle=_kcore_oracle(),
    doc=f"k-core decomposition by iterative peeling (k={_KCORE_K}, "
    f"{_KCORE_ROUNDS} fixed rounds on the customer-supplier bipartite "
    "graph): each round drops nodes whose degree WITHIN the surviving "
    "subgraph is below k, and removals cascade (sf0.01 census: 1600 -> "
    "193 -> 148 -> 55). Per round: two semi-joins against the "
    "surviving node set + one degree aggregate — all key-partitioned "
    "shuffles; the node set is localCheckpoint'ed per round (the same "
    "round-boundary cut as pagerank) so round R never re-derives "
    "rounds 1..R-1. Integer degrees make every round bit-exact, so "
    "the ITERATED cascade sits under the hash gate via unrolled-CTE "
    "SQL. Output is the per-round survivor census (stable schema at "
    "any scale; membership is the r-th CTE).",
    tags=("extension", "graph", "iterative"),
)
def x_kcore_peel(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c_node"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s_node"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst")
    ).unionByName(
        pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"))
    ).transform(lineage_cut_lazy)

    nodes = edges.select(F.col("src").alias("node")).distinct().transform(
        lineage_cut_lazy
    )
    census = [(0, nodes.count())]
    for r in range(1, _KCORE_ROUNDS + 1):
        surv = (
            edges.join(nodes.withColumnRenamed("node", "src"), "src")
            .join(nodes.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node"))
        ).transform(lineage_cut_lazy)
        census.append((r, surv.count()))
        nodes = surv
    return spark.createDataFrame(census, "round int, n_nodes long")


_BFS_ROUNDS = 3
_BFS_SEED_MAX = 8  # seeds: customer nodes with custkey < 8


_BFS_EDGES_SQL = """
pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c_node,
                  l.l_suppkey * 2 + 1 AS s_node
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c_node AS src, s_node AS dst FROM pairs
  UNION ALL
  SELECT s_node AS src, c_node AS dst FROM pairs
)
"""


def _bfs_oracle() -> str:
    ctes = [
        f"l0 AS (SELECT DISTINCT src AS node FROM edges "
        f"WHERE src % 2 = 0 AND src < {2 * _BFS_SEED_MAX})",
        "r0 AS (SELECT node FROM l0)",
    ]
    for r in range(1, _BFS_ROUNDS + 1):
        ctes.append(
            f"l{r} AS (SELECT DISTINCT e.dst AS node "
            f"FROM edges e JOIN l{r - 1} f ON e.src = f.node "
            f"EXCEPT SELECT node FROM r{r - 1})"
        )
        ctes.append(
            f"r{r} AS (SELECT node FROM r{r - 1} "
            f"UNION SELECT node FROM l{r})"
        )
    layers = "\nUNION ALL\n".join(
        f"SELECT {r}::INT AS dist, (SELECT count(*) FROM l{r})::BIGINT AS n_nodes"
        for r in range(_BFS_ROUNDS + 1)
    )
    return f"WITH {_BFS_EDGES_SQL}, {', '.join(ctes)}\n{layers}"


@register(
    "x_bfs_layers",
    oracle=_bfs_oracle(),
    doc=f"Multi-source BFS over the customer-supplier bipartite graph "
    f"(integer-encoded nodes: even = customer, odd = supplier — narrow "
    f"8-byte shuffle keys; seeds: customer nodes with key < {_BFS_SEED_MAX}; "
    f"{_BFS_ROUNDS} frontier expansions): per round, the frontier "
    "joins the edge table (key-partitioned shuffle), new nodes = "
    "neighbors EXCEPT already-reached, both sets "
    "localCheckpoint'ed at round boundaries (the pagerank/k-core "
    "cut). Set semantics are exact — no float anywhere — so the "
    "iterated layer census sits under the hash gate via unrolled-CTE "
    "SQL. The Pregel SSSP/reachability primitive next to pagerank "
    "(value propagation), k-core (peeling), and CC (label "
    "convergence); output is the per-distance layer census.",
    tags=("extension", "graph", "iterative"),
)
def x_bfs_layers(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Integer-encoded nodes (even = customer 2k, odd = supplier 2k+1):
    # the frontier joins ship 8-byte BIGINTs instead of 'c12345'
    # strings — the r7 shuffle audit measured the string form at
    # 40.7 MB shuffle write at sf0.1; narrow keys halve it.
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c_node"),
            (F.col("l_suppkey") * 2 + 1).alias("s_node"),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("c_node").alias("src"), F.col("s_node").alias("dst"))
        .unionByName(
            pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"))
        )
        .transform(lineage_cut_lazy)
    )
    frontier = (
        edges.filter(
            (F.col("src") % 2 == 0) & (F.col("src") < 2 * _BFS_SEED_MAX)
        )
        .select(F.col("src").alias("node"))
        .distinct()
        .transform(lineage_cut_lazy)
    )
    reached = frontier
    census = [(0, frontier.count())]
    for r in range(1, _BFS_ROUNDS + 1):
        frontier = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .exceptAll(reached)
            .distinct()
            .transform(lineage_cut_lazy)
        )
        reached = reached.unionByName(frontier).distinct().transform(
            lineage_cut_lazy
    )
        census.append((r, frontier.count()))
    return spark.createDataFrame(census, "dist int, n_nodes long")


LINKPRED_MAX_PART_BUYERS = 64  # frequency cap: parts with more buyers
LINKPRED_TOPK = 20             # are hubs, not similarity signal


@register(
    "x_link_prediction",
    # Common-neighbor / Jaccard link prediction (Liben-Nowell &
    # Kleinberg 2003 — the baseline for "which pairs should be
    # connected next"): customers are similar when they buy the same
    # parts. Candidate pairs come ONLY from co-buyers of a shared part
    # (blocked equi-join on partkey, the same banded-candidate
    # discipline as every dedup operator here); parts with more than
    # LINKPRED_MAX_PART_BUYERS buyers are excluded as hubs — the
    # standard frequency cap that simultaneously kills the quadratic
    # blowup (a part with 10^6 buyers contributes C(10^6,2) pairs at
    # 100 TB) and improves the signal (ubiquitous items carry no
    # similarity information; same reasoning as stopword removal).
    # The cap defines the metric's part universe END TO END: degrees
    # are counted over the capped frame so that
    # score = |shared capped parts| / |union of capped part sets| is
    # the true Jaccard of the capped sets (r10 ADVICE: mixing raw
    # degrees with capped intersections double-counts hub parts in
    # the union while excluding them from the numerator); top-K by
    # (jaccard, pair key) via TakeOrdered — no global sort.
    oracle=f"""
WITH bought AS (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
keep AS (
  SELECT part FROM bought GROUP BY part
  HAVING count(*) <= {LINKPRED_MAX_PART_BUYERS}
),
b AS (SELECT cust, part FROM bought WHERE part IN (SELECT part FROM keep)),
-- degrees from the CAPPED frame, not the raw one: numerator (shared
-- capped parts) and denominator (union of capped part sets) must use
-- the same part universe or jaccard is neither metric (r10 ADVICE).
deg AS (SELECT cust, count(*)::BIGINT AS d FROM b GROUP BY cust),
pairs AS (
  SELECT a.cust AS ca, b2.cust AS cb, count(*)::BIGINT AS common
  FROM b a JOIN b b2 ON a.part = b2.part AND a.cust < b2.cust
  GROUP BY 1, 2
),
scored AS (
  SELECT ca, cb, common, da.d AS deg_a, db.d AS deg_b,
         common::DOUBLE / (da.d + db.d - common) AS jaccard
  FROM pairs JOIN deg da ON pairs.ca = da.cust
             JOIN deg db ON pairs.cb = db.cust
)
SELECT ca, cb, common, deg_a, deg_b, jaccard
FROM scored
ORDER BY jaccard DESC, ca, cb
LIMIT {LINKPRED_TOPK}
""",
    doc="Jaccard link prediction over the co-purchase graph: candidate "
    "customer pairs generated only through shared parts (blocked "
    "equi-join, hub parts frequency-capped — the anti-quadratic knob "
    "AND the signal filter), scored |shared|/|union| from exact "
    "integer degrees, top-20 by (jaccard, unique pair key) via "
    "TakeOrdered. The recommender/entity-graph primitive at "
    "100 TB shape.",
    tags=("graph", "extension"),
)
def x_link_prediction(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bought = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
        .transform(lineage_cut_lazy)  # consumed by keep, deg, and both join sides
    )
    keep = bought.groupBy("part").agg(F.count(F.lit(1)).alias("nb")).filter(
        F.col("nb") <= LINKPRED_MAX_PART_BUYERS
    ).select("part")
    b = bought.join(F.broadcast(keep), "part").transform(lineage_cut_lazy)
    # degrees over the capped frame (r10 ADVICE): a hub part excluded
    # from the numerator must not inflate the union in the denominator
    deg = b.groupBy("cust").agg(F.count(F.lit(1)).alias("d"))
    b2 = b.select(F.col("part").alias("part2"), F.col("cust").alias("cb"))
    pairs = (
        b.join(b2, (F.col("part") == F.col("part2")) & (F.col("cust") < F.col("cb")))
        .groupBy(F.col("cust").alias("ca"), "cb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.select(F.col("cust").alias("ca"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("cust").alias("cb"), F.col("d").alias("deg_b"))
    scored = (
        pairs.join(da, "ca")
        .join(db, "cb")
        .select(
            "ca", "cb", "common", "deg_a", "deg_b",
            (
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return (
        scored.orderBy(F.col("jaccard").desc(), "ca", "cb")
        .limit(LINKPRED_TOPK)
        .select("ca", "cb", "common", "deg_a", "deg_b", "jaccard")
    )


@register(
    "x_graph_assortativity",
    # Degree assortativity (Newman 2002, public): the Pearson
    # correlation of endpoint degrees over edges — do high-degree
    # customers trade with high-degree suppliers, or the opposite?
    # Computed over the DIRECTED edge set of the bipartite
    # customer-supplier graph (each undirected edge contributes both
    # orientations, the standard symmetrization), entirely from
    # exact integer moments: degrees are counts, the five sums
    # (sum x, sum y, sum xy, sum x^2, sum y^2) are decimal-exact
    # sums of integer products, and the closed-form Pearson is one
    # fixed double expression tree — the a_corr_matrix recipe lifted
    # onto graph structure. One distinct + two degree aggregates +
    # one join; no quadratic anything.
    oracle=f"""
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
dc AS (SELECT c, count(*)::BIGINT AS dc FROM e GROUP BY c),
ds AS (SELECT s, count(*)::BIGINT AS ds FROM e GROUP BY s),
de AS (
  SELECT dc.dc AS x, ds.ds AS y FROM e
  JOIN dc ON e.c = dc.c JOIN ds ON e.s = ds.s
),
sym AS (
  SELECT x, y FROM de UNION ALL SELECT y AS x, x AS y FROM de
),
m AS (
  SELECT count(*)::BIGINT AS n,
         {dsum_sql('x::DOUBLE')} AS sx, {dsum_sql('y::DOUBLE')} AS sy,
         {dsum_sql('(x * y)::DOUBLE')} AS sxy,
         -- sxx/syy sum SQUARED integer degrees over edges; at sf1 this
         -- is ~1e9, inside the 9e11 dsum envelope (functions/exact.py)
         -- to ~sf30 (degrees and edge count both grow with sf). Past
         -- that, down-scale the squares before dsum. (r10 ADVICE)
         {dsum_sql('(x * x)::DOUBLE')} AS sxx,
         {dsum_sql('(y * y)::DOUBLE')} AS syy
  FROM sym
)
SELECT n AS n_directed_edges,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         AS assortativity
FROM m
""",
    doc="Degree assortativity of the customer-supplier bipartite "
    "graph: Pearson correlation of endpoint degrees over the "
    "symmetrized edge list, from exact-decimal integer moments and "
    "one closed-form double expression — bit-identical cross-engine. "
    "Bipartite graphs are disassortative by construction when degree "
    "distributions differ across sides; the sign and magnitude here "
    "are the structural fingerprint.",
    tags=("graph", "stats", "extension"),
)
def x_graph_assortativity(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(lineage_cut_lazy)  # degrees + the edge join
    )
    dc = e.groupBy("c").agg(F.count(F.lit(1)).alias("dc"))
    ds = e.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    de = (
        e.join(dc, "c")
        .join(ds, "s")
        .select(F.col("dc").alias("x"), F.col("ds").alias("y"))
    )
    sym = de.unionByName(de.select(F.col("y").alias("x"), F.col("x").alias("y")))
    m = sym.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x").cast("double")).alias("sx"),
        dsum(F.col("y").cast("double")).alias("sy"),
        dsum((F.col("x") * F.col("y")).cast("double")).alias("sxy"),
        dsum((F.col("x") * F.col("x")).cast("double")).alias("sxx"),
        dsum((F.col("y") * F.col("y")).cast("double")).alias("syy"),
    )
    return m.select(
        F.col("n").alias("n_directed_edges"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("assortativity"),
    )
