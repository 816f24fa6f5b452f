"""Graph analytics registry queries: triangle counting on the
co-purchase part graph and PageRank on the nation-level trade-flow
graph. Both are exact fixed-shape computations, so they carry full
DuckDB oracles (the PageRank oracle unrolls the iterations as chained
CTEs — same decimal-accumulated arithmetic, bit-comparable at 6 dp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestors_spark.functions.rounding import fround, o_fround
from data_ingestors_spark.operators.baskets import (
    MAX_BASKET_ITEMS,
    basket_pairs,
    cap_baskets,
)
from data_ingestors_spark.operators.graph import pagerank, triangle_count
from data_ingestors_spark.queries.base import tables

QUERIES: dict = {}
ORACLES: dict = {}


_COPURCHASE_MIN_SUPPORT = 2


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part co-purchase edges: two parts appear together in
    at least ``_COPURCHASE_MIN_SUPPORT`` orders. Pair generation is
    per-order (O(k^2) in basket size k, never corpus-quadratic); the
    support threshold is the load-bearing scale decision — one-off
    co-occurrences are noise that grows linearly with order count
    (1.2M pairs at sf0.1), while repeated pairs are signal whose count
    stays roughly constant (~3.5k at both sf0.01 and sf0.1), so the
    downstream triangle join rides a graph that does NOT grow with the
    fact table. Whale baskets above
    :data:`operators.baskets.MAX_BASKET_ITEMS` are dropped before the
    O(k^2) fan-out, as in the other basket queries."""
    t = tables(spark, sf_dir, "lineitem")
    items = cap_baskets(
        t["lineitem"].select("l_orderkey", "l_partkey").distinct(), "l_orderkey"
    )
    return basket_pairs(
        items, "l_orderkey", "l_partkey", min_support=_COPURCHASE_MIN_SUPPORT
    ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the co-purchase graph (see
    operators/graph.py:triangle_count for the degree-oriented
    algorithm that keeps wedge generation off the hot vertices)."""
    return triangle_count(_copurchase_edges(spark, sf_dir))


O_TRIANGLE_COUNT = f"""
WITH items AS (
  -- mirror MAX_BASKET_ITEMS: Spark drops whale baskets before the fan-out
  SELECT l_orderkey, l_partkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= {MAX_BASKET_ITEMS}
),
edges AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
nodes AS (SELECT a AS v FROM edges UNION SELECT b AS v FROM edges)
SELECT
  (SELECT CAST(count(*) AS BIGINT)
   FROM edges e1
   JOIN edges e2 ON e2.a = e1.b
   JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles,
  (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
  (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes
"""

QUERIES["triangle_count"] = q_triangle_count
ORACLES["triangle_count"] = O_TRIANGLE_COUNT


_PR_ITERS = 3
_PR_DAMP = 0.85


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade graph (customer nation ->
    supplier nation, weighted by lineitem count): which nations are
    authoritative suppliers given where demand flows. Fixed 3
    iterations, damping 0.85 (see operators/graph.py:pagerank)."""
    t = tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    edges = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("wt"))
    )
    pr = pagerank(edges, weight="wt", iterations=_PR_ITERS, damping=_PR_DAMP)
    return (
        pr.join(F.broadcast(t["nation"]), pr.v == t["nation"].n_nationkey)
        .select(F.col("n_name"), fround(F.col("rank"), 6).alias("pr"))
    )


def _o_pagerank_sql() -> str:
    """Unroll the fixed-iteration PageRank as chained CTEs with the
    SAME arithmetic as the operator: decimal-accumulated sums cast to
    double, identical teleport constants."""
    d = _PR_DAMP
    it = """
r{i} AS MATERIALIZED (
  SELECT nodes.node,
         (1.0 - {d}) / nt.n + {d} * (
           COALESCE(inf.inflow, 0.0) +
           (SELECT CAST(COALESCE(sum(CAST(r{p}.rank AS DECIMAL(30,10))), 0) AS DOUBLE)
            FROM r{p} WHERE r{p}.node NOT IN (SELECT u FROM e)) / CAST(nt.n AS DOUBLE)
         ) AS rank
  FROM nodes CROSS JOIN nt
  LEFT JOIN (
    SELECT e.v AS node,
           CAST(sum(CAST(r{p}.rank * e.frac AS DECIMAL(30,10))) AS DOUBLE) AS inflow
    FROM e JOIN r{p} ON e.u = r{p}.node GROUP BY e.v
  ) inf ON inf.node = nodes.node
)"""
    iters = ",".join(it.format(i=i, p=i - 1, d=d) for i in range(1, _PR_ITERS + 1))
    return f"""
WITH raw AS MATERIALIZED (
  SELECT c_nationkey AS src, s_nationkey AS dst, CAST(count(*) AS DOUBLE) AS wt
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), e0 AS MATERIALIZED (
  SELECT * FROM raw WHERE src <> dst
), ew AS (
  SELECT src, CAST(sum(CAST(wt AS DECIMAL(30,10))) AS DOUBLE) AS wsum
  FROM e0 GROUP BY src
), e AS MATERIALIZED (
  SELECT e0.src AS u, e0.dst AS v, e0.wt / ew.wsum AS frac
  FROM e0 JOIN ew ON e0.src = ew.src
), nodes AS MATERIALIZED (SELECT u AS node FROM e UNION SELECT v AS node FROM e),
nt AS (SELECT count(*) AS n FROM nodes),
r0 AS MATERIALIZED (SELECT node, 1.0 / nt.n AS rank FROM nodes CROSS JOIN nt),
{iters}
SELECT n_name, {o_fround(f"r{_PR_ITERS}.rank", 6)} AS pr
FROM r{_PR_ITERS} JOIN nation ON node = n_nationkey
"""


QUERIES["pagerank"] = q_pagerank
ORACLES["pagerank"] = _o_pagerank_sql()


# ---------------------------------------------- Adamic-Adar link scores

_AA_MAX_DEG = 20  # customers buying more parts than this carry ~no signal


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted part-part links by Adamic-Adar score over the
    customer-part co-purchase bipartite graph: for parts a,b the score
    is Σ over shared customers of 1/log2(deg(customer)) — shared NICHE
    customers (low degree) are strong evidence, shared bulk buyers are
    weak evidence (Adamic & Adar 2003, public formulation).

    Plan (100 TB): edges dedupe to DISTINCT (customer, part); the
    degree cap (2 <= deg <= 20) bounds the per-customer pair fan-out
    at C(20,2)=190 rows, so the self-join is linear in customers, not
    quadratic in edges — the standard blocking that makes AA tractable
    (deg-1 customers produce no pairs; deg>20 customers are dropped,
    documented truncation). Scores fold in decimal; top-20 is
    TakeOrdered with full key tiebreak.
    """
    t = tables(spark, sf_dir, "orders", "lineitem")
    edges = (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(
            t["lineitem"].select(
                F.col("l_orderkey").alias("o_orderkey"), "l_partkey"
            ),
            "o_orderkey",
        )
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    deg = edges.groupBy("cust").agg(F.count("*").alias("deg")).filter(
        (F.col("deg") >= 2) & (F.col("deg") <= _AA_MAX_DEG)
    )
    e = edges.join(deg, "cust")
    # not basket_pairs: the pair aggregate sums 1/log2(deg), not a count
    pairs = e.alias("a").join(e.alias("b"), "cust").filter(
        F.col("a.part") < F.col("b.part")
    )
    return (
        pairs.groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(
            F.count("*").cast("long").alias("common_customers"),
            fround(
                F.sum(
                    fround(1 / F.log2(F.col("a.deg")), 8).cast("decimal(30,10)")
                ).cast("double"),
                6,
            ).alias("aa_score"),
        )
        .orderBy(
            F.desc("aa_score"),
            F.desc("common_customers"),
            F.asc("part_a"),
            F.asc("part_b"),
        )
        .limit(20)
    )


O_LINK_PREDICTION = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), deg AS (
  SELECT cust, count(*) AS deg FROM edges GROUP BY 1
  HAVING count(*) BETWEEN 2 AND {_AA_MAX_DEG}
), e AS (
  SELECT edges.cust, edges.part, deg.deg FROM edges JOIN deg USING (cust)
)
SELECT a.part AS part_a, b.part AS part_b,
       CAST(count(*) AS BIGINT) AS common_customers,
       {o_fround(f"CAST(sum(CAST({o_fround('1.0 / log2(a.deg)', 8)} AS DECIMAL(30,10))) AS DOUBLE)", 6)} AS aa_score
FROM e a JOIN e b ON a.cust = b.cust AND a.part < b.part
GROUP BY 1, 2
ORDER BY aa_score DESC, common_customers DESC, part_a ASC, part_b ASC
LIMIT 20
"""

QUERIES["link_prediction"] = q_link_prediction
ORACLES["link_prediction"] = O_LINK_PREDICTION


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over the directed edge list (each undirected
    edge contributes both orientations) of the co-purchase part
    graph — positive means hubs link to hubs, negative means
    hub-and-spoke; the single number that says which ANN/partition
    strategies will see skew.

    Exactness: degree products are integer; all five sums accumulate
    in DECIMAL, so both engines standardize bit-identically before
    the one corr division.

    Plan (100 TB): degrees are one partial-aggregable groupBy over
    the edge endpoints; the stats are ONE scan of the degree-joined
    edge list; the two 1-row frames cross-join broadcast. Edge list
    is support-thresholded so it does not grow with the fact table
    (see _copurchase_edges)."""
    from data_ingestors_spark.queries.base import DEC

    from data_ingestors_spark.operators.dedup import _materialize

    # the edge pipeline (pair-gen + support filter) feeds FOUR join
    # branches below — materialize once so the plan reads the cache
    # instead of re-running the O(k²) fan-out per branch
    edges = _materialize(_copurchase_edges(spark, sf_dir).select("src", "dst"))
    deg = (
        edges.select(F.col("src").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    directed = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    j = (
        directed.join(
            deg.select(F.col("v").alias("src"), F.col("deg").alias("dx")), "src"
        ).join(deg.select(F.col("v").alias("dst"), F.col("deg").alias("dy")), "dst")
    )
    s = j.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.col("dx").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("dy").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("dx") * F.col("dx")).cast(DEC)).cast("double").alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast(DEC)).cast("double").alias("syy"),
        F.sum((F.col("dx") * F.col("dy")).cast(DEC)).cast("double").alias("sxy"),
    )
    nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    r = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.crossJoin(F.broadcast(nodes)).select(
        "n_nodes",
        (F.col("m") / 2).cast("long").alias("n_edges"),
        fround(r, 6).alias("assortativity"),
    )


O_DEGREE_ASSORTATIVITY = f"""
WITH items AS (
  -- mirror MAX_BASKET_ITEMS: Spark drops whale baskets before the fan-out
  SELECT l_orderkey, l_partkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= {MAX_BASKET_ITEMS}
),
edges AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
  GROUP BY 1
),
directed AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL SELECT b AS src, a AS dst FROM edges
),
j AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM directed JOIN deg dx ON dx.v = src JOIN deg dy ON dy.v = dst
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(dx AS DECIMAL(30,10))) AS DOUBLE) AS sx,
         CAST(sum(CAST(dy AS DECIMAL(30,10))) AS DOUBLE) AS sy,
         CAST(sum(CAST(dx * dx AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(dy * dy AS DECIMAL(30,10))) AS DOUBLE) AS syy,
         CAST(sum(CAST(dx * dy AS DECIMAL(30,10))) AS DOUBLE) AS sxy
  FROM j
),
nodes AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT n_nodes, CAST(m / 2 AS BIGINT) AS n_edges,
       floor(((m * sxy - sx * sy)
              / (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy))) * 1e6 + 0.5) / 1e6
         AS assortativity
FROM s CROSS JOIN nodes
"""

QUERIES["degree_assortativity"] = q_degree_assortativity
ORACLES["degree_assortativity"] = O_DEGREE_ASSORTATIVITY


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the co-purchase part graph:
    per node, the fraction of neighbor pairs that are themselves
    connected (2*tri / deg*(deg-1)) — the community-density score
    that separates genuine product families from hub-and-spoke
    accessories. Top-100 by (coef, deg, id) with full tiebreaks.

    Plan (100 TB): wedge generation fans out sum(deg²) rows over the
    SUPPORT-THRESHOLDED graph (see _copurchase_edges — the edge list
    does not grow with the fact table); closure is one semi join
    against the normalized edge list; every aggregate is
    partial-aggregable. All-integer until the one division."""
    from data_ingestors_spark.operators.dedup import _materialize

    # edge frame feeds adjacency (twice) + the closure semi join —
    # materialize once (same rationale as degree_assortativity)
    edges = _materialize(_copurchase_edges(spark, sf_dir).select("src", "dst"))
    adj = edges.select(F.col("src").alias("v"), F.col("dst").alias("nb")).unionAll(
        edges.select(F.col("dst").alias("v"), F.col("src").alias("nb"))
    )
    deg = adj.groupBy("v").agg(F.count("*").cast("long").alias("deg"))
    x, y = adj.alias("x"), adj.alias("y")
    wedges = x.join(
        y, (F.col("x.v") == F.col("y.v")) & (F.col("x.nb") < F.col("y.nb"))
    ).select(F.col("x.v").alias("v"), F.col("x.nb").alias("u"), F.col("y.nb").alias("w"))
    closed = wedges.join(
        edges,
        (F.col("u") == F.col("src")) & (F.col("w") == F.col("dst")),
        "left_semi",
    )
    tri = closed.groupBy("v").agg(F.count("*").cast("long").alias("n_tri"))
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "v", "left")
        .withColumn("n_tri", F.coalesce(F.col("n_tri"), F.lit(0)).cast("long"))
        .withColumn(
            "coef",
            fround(
                (2 * F.col("n_tri")) / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                6,
            ),
        )
        .select("v", "deg", "n_tri", "coef")
        .orderBy(F.desc("coef"), F.desc("deg"), "v")
        .limit(100)
    )


O_CLUSTERING_COEFFICIENT = f"""
WITH items AS (
  -- mirror MAX_BASKET_ITEMS: Spark drops whale baskets before the fan-out
  SELECT l_orderkey, l_partkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  QUALIFY count(*) OVER (PARTITION BY l_orderkey) <= {MAX_BASKET_ITEMS}
),
edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
adj AS (
  SELECT src AS v, dst AS nb FROM edges
  UNION ALL SELECT dst AS v, src AS nb FROM edges
),
deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
wedges AS (
  SELECT x.v, x.nb AS u, y.nb AS w
  FROM adj x JOIN adj y ON x.v = y.v AND x.nb < y.nb
),
tri AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_tri
  FROM wedges WHERE EXISTS (
    SELECT 1 FROM edges WHERE src = wedges.u AND dst = wedges.w
  )
  GROUP BY 1
)
SELECT deg.v, deg.deg,
       CAST(coalesce(tri.n_tri, 0) AS BIGINT) AS n_tri,
       floor(((2 * coalesce(tri.n_tri, 0)) / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS coef
FROM deg LEFT JOIN tri USING (v)
WHERE deg.deg >= 2
ORDER BY coef DESC, deg.deg DESC, deg.v
LIMIT 100
"""

QUERIES["clustering_coefficient"] = q_clustering_coefficient
ORACLES["clustering_coefficient"] = O_CLUSTERING_COEFFICIENT
