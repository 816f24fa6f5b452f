"""Trade, pricing, and revenue BI queries (split from
queries/analytics.py in r10 — registry names unchanged): supplier
HHI/dependency/breadth, basket-size distribution, duplicate-invoice
detection, supplier price outliers, nation trade balance, price
elasticity, churn flags, backlog curve, weekly volatility,
discount-return coupling, 80/20 revenue concentration, segment
profiles, latency trends, brand loyalty, dead stock, first-order LTV,
weekend effect, size-latency coupling, balance-vs-spend, priority
mix, tax-rate audit, SKU adoption, whale value concentration.

Same conventions as queries/__init__.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestors_spark.queries.base import (
    DEC,
    davg,
    dsum,
    fround,
    o_davg,
    o_dsum,
    o_fround,
    tables,
)

QUERIES: dict = {}
ORACLES: dict = {}


def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation: the Herfindahl-
    Hirschman index (sum of squared revenue shares, x10000 as
    antitrust convention) plus supplier count and top-supplier share
    — the supply-risk screen ([q_gini_concentration] is the customer-
    side sibling with a different inequality metric).

    Exactness: per-supplier revenue folds in DECIMAL; shares and the
    squared-share sum reuse the decimal-fold; HHI bands are integer
    thresholds on the rounded value.

    Plan (100 TB): one (nation, supplier) partial agg, one
    |nations|-row reduce — the squared-share sum needs the nation
    total first, carried by a broadcast-size join on nation."""
    t = tables(spark, sf_dir, "lineitem", "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per = (
        t["lineitem"]
        .join(
            t["supplier"].select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"),
            "l_suppkey",
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(rev.cast(DEC)).cast("double").alias("rev"))
    )
    tot = per.groupBy("s_nationkey").agg(
        F.sum(F.col("rev").cast(DEC)).cast("double").alias("t_rev"),
        F.count("*").cast("long").alias("n_suppliers"),
    )
    j = per.join(tot, "s_nationkey")
    share = F.col("rev") / F.col("t_rev")
    return (
        j.groupBy("s_nationkey")
        .agg(
            F.max("n_suppliers").alias("n_suppliers"),
            fround(F.sum((share * share).cast(DEC)).cast("double") * 10000, 2).alias("hhi"),
            fround(F.max(share), 6).alias("top_share"),
        )
        .withColumn(
            "band",
            F.when(F.col("hhi") < 1500, F.lit("competitive"))
            .when(F.col("hhi") < 2500, F.lit("moderate"))
            .otherwise(F.lit("concentrated")),
        )
        .orderBy("s_nationkey")
    )


O_SUPPLIER_HHI = f"""
WITH per AS (
  SELECT s_nationkey, l_suppkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) AS rev
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
  GROUP BY 1, 2
),
tot AS (
  SELECT s_nationkey,
         CAST(sum(CAST(rev AS DECIMAL(30,10))) AS DOUBLE) AS t_rev,
         CAST(count(*) AS BIGINT) AS n_suppliers
  FROM per GROUP BY 1
),
hhi AS (
  SELECT per.s_nationkey,
         max(n_suppliers) AS n_suppliers,
         {o_fround("CAST(sum(CAST((rev / t_rev) * (rev / t_rev) AS DECIMAL(30,10))) AS DOUBLE) * 10000", 2)} AS hhi,
         {o_fround("max(rev / t_rev)", 6)} AS top_share
  FROM per JOIN tot USING (s_nationkey)
  GROUP BY 1
)
SELECT s_nationkey, n_suppliers, hhi, top_share,
       CASE WHEN hhi < 1500 THEN 'competitive'
            WHEN hhi < 2500 THEN 'moderate'
            ELSE 'concentrated' END AS band
FROM hhi ORDER BY s_nationkey
"""

QUERIES["supplier_hhi"] = q_supplier_hhi
ORACLES["supplier_hhi"] = O_SUPPLIER_HHI


def q_basket_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order basket-size histogram: per distinct-item count k, how
    many orders, their share of all orders, and the decimal-exact
    average order total — the shape parameter every co-purchase /
    recommender query in this module implicitly depends on (and the
    empirical justification for
    :data:`operators.baskets.MAX_BASKET_ITEMS`).

    Plan (100 TB): distinct (order, part) collapses map-side, one
    |orders|-row count groupBy, one |sizes|-row histogram groupBy;
    order totals join on the order key (ids + one double). The 1-row
    total broadcast-cross-joins for the share."""
    t = tables(spark, sf_dir, "lineitem", "orders")
    sizes = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.count("*").cast("long").alias("basket_size"))
        .join(
            t["orders"].select(
                F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
            ),
            "l_orderkey",
        )
    )
    tot = sizes.agg(F.count("*").cast("long").alias("n_total"))
    return (
        sizes.groupBy("basket_size")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            davg(F.col("o_totalprice"), 4).alias("avg_order_total"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "basket_size",
            "n_orders",
            fround(F.col("n_orders") / F.col("n_total"), 6).alias("order_share"),
            "avg_order_total",
        )
        .orderBy("basket_size")
    )


O_BASKET_SIZE_DISTRIBUTION = f"""
WITH sizes AS (
  SELECT l_orderkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS basket_size
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT basket_size, o_totalprice
  FROM sizes JOIN orders ON l_orderkey = o_orderkey
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM j)
SELECT basket_size,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_fround("count(*) / CAST(n_total AS DOUBLE)", 6)} AS order_share,
       {o_davg("o_totalprice", 4)} AS avg_order_total
FROM j CROSS JOIN tot
GROUP BY basket_size, n_total ORDER BY basket_size
"""

QUERIES["basket_size_distribution"] = q_basket_size_distribution
ORACLES["basket_size_distribution"] = O_BASKET_SIZE_DISTRIBUTION


def q_duplicate_invoice_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-invoice screen: pairs of orders by the SAME customer
    with the IDENTICAL total price within 7 days of each other — the
    finance-ops dedup audit (double-billing / replayed feed), the
    money-domain cousin of [q_dedup_exact].

    Plan (100 TB): equi-join on (custkey, totalprice) — the candidate
    space is bounded by exact-amount repeats per customer (never
    corpus-quadratic), and the 7-day predicate prunes the tail before
    anything aggregates. Output is the full pair list with the gap in
    days, deterministically ordered."""
    t = tables(spark, sf_dir, "orders")
    o = t["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.unix_micros("o_orderdate").alias("od_us"),
    )
    a, b = o.alias("a"), o.alias("b")
    day_us = 86_400_000_000
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_totalprice") == F.col("b.o_totalprice"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(
            F.abs(F.col("a.od_us") - F.col("b.od_us")) <= F.lit(7 * day_us)
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_totalprice").alias("totalprice"),
            (F.abs(F.col("a.od_us") - F.col("b.od_us")) / F.lit(day_us))
            .cast("double")
            .alias("gap_days"),
        )
        .withColumn("gap_days", fround(F.col("gap_days"), 6))
        .orderBy("custkey", "order_a", "order_b")
    )


O_DUPLICATE_INVOICE_DETECTION = f"""
SELECT a.o_custkey AS custkey,
       a.o_orderkey AS order_a,
       b.o_orderkey AS order_b,
       a.o_totalprice AS totalprice,
       {o_fround("abs(epoch_us(a.o_orderdate) - epoch_us(b.o_orderdate)) / CAST(86400000000 AS DOUBLE)", 6)} AS gap_days
FROM orders a
JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND a.o_totalprice = b.o_totalprice
 AND a.o_orderkey < b.o_orderkey
WHERE abs(epoch_us(a.o_orderdate) - epoch_us(b.o_orderdate)) <= 7 * 86400000000
ORDER BY custkey, order_a, order_b
"""

QUERIES["duplicate_invoice_detection"] = q_duplicate_invoice_detection
ORACLES["duplicate_invoice_detection"] = O_DUPLICATE_INVOICE_DETECTION


def q_supplier_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier pricing-anomaly screen: per (part, supplier), the mean
    unit price (extendedprice / quantity, decimal-exact mean) against
    the part's exact median unit price across all suppliers; top-20
    by absolute log price ratio — the procurement-audit cousin of
    [q_mad_stats] (which flags rows; this flags SUPPLIERS).

    Parts with a single supplier-price row are excluded (their ratio
    is identically 1). percentile == quantile_cont on identical
    doubles (proven portable in key_skew_audit).

    Plan (100 TB): unit price is row-local; per-(part,supp) means and
    per-part medians are two partial-aggregable groupBys; the stats
    join streams on the part key (|parts|-sized, NOT broadcast). The
    top-20 is a TakeOrdered with the rounded key + full tiebreaks."""
    t = tables(spark, sf_dir, "lineitem")
    up = t["lineitem"].select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    per_supp = up.groupBy("l_partkey", "l_suppkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        (F.sum(F.col("unit_price").cast(DEC)).cast("double") / F.count("*")).alias(
            "avg_up_raw"
        ),
    )
    # r13-opt (guide §1.4/§2.4, VERDICT r12 #4): the r12 profile blamed
    # the exact percentile for the 2.3-3.5 s floor, but isolating the
    # aggregates shows the cost was the percentile+countDistinct COMBO:
    # Spark plans one-distinct-aggregate via a two-level rewrite that
    # shuffles the unit-price rows twice (noop-sink: 2.38 s for the
    # pair vs 0.60 s for the percentile alone). n_supps == the number
    # of (part, supp) groups, which per_supp already materializes — a
    # partial-aggregable count over per_supp replaces the distinct
    # aggregate outright. Same-JVM interleaved A/B: 0.554x min-vs-min
    # (2.59 -> 1.43 s); output bit-identical at sf0.1 and sf0.01
    # (order-insensitive content hash + the oracle compare), since
    # both the median multiset and the n_supps integers are unchanged.
    per_part = up.groupBy("l_partkey").agg(
        F.percentile("unit_price", F.lit(0.5)).alias("med_up_raw"),
    )
    # count(l_suppkey), not count(*): a null-supplier group is no
    # supplier, as in the oracle's count(DISTINCT l_suppkey)
    n_supps = per_supp.groupBy("l_partkey").agg(
        F.count("l_suppkey").cast("long").alias("n_supps")
    )
    j = (
        per_supp.join(per_part, "l_partkey")
        .join(n_supps, "l_partkey")
        .filter(F.col("n_supps") > 1)
    )
    ratio_r = fround(F.col("avg_up_raw") / F.col("med_up_raw"), 6)
    return (
        j.select(
            "l_partkey",
            "l_suppkey",
            "n_lines",
            fround(F.col("avg_up_raw"), 4).alias("avg_unit_price"),
            fround(F.col("med_up_raw"), 4).alias("part_median_price"),
            ratio_r.alias("price_ratio"),
        )
        .orderBy(
            F.desc(F.abs(F.log(F.col("price_ratio")))),
            "l_partkey",
            "l_suppkey",
        )
        .limit(20)
    )


O_SUPPLIER_PRICE_OUTLIERS = f"""
WITH up AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
  FROM lineitem
),
per_supp AS (
  SELECT l_partkey, l_suppkey,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST(unit_price AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS avg_up_raw
  FROM up GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey,
         quantile_cont(unit_price, 0.5) AS med_up_raw,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
  FROM up GROUP BY 1
)
SELECT l_partkey, l_suppkey, n_lines,
       {o_fround("avg_up_raw", 4)} AS avg_unit_price,
       {o_fround("med_up_raw", 4)} AS part_median_price,
       {o_fround("avg_up_raw / med_up_raw", 6)} AS price_ratio
FROM per_supp JOIN per_part USING (l_partkey)
WHERE n_supps > 1
ORDER BY abs(ln({o_fround("avg_up_raw / med_up_raw", 6)})) DESC, l_partkey, l_suppkey
LIMIT 20
"""

QUERIES["supplier_price_outliers"] = q_supplier_price_outliers
ORACLES["supplier_price_outliers"] = O_SUPPLIER_PRICE_OUTLIERS


def q_nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full supplier-nation x customer-nation revenue flow matrix —
    the generalization of [q_volume_shipping] (TPC-H Q7 fixes two
    nations; BI wants the whole matrix plus each cell's share of the
    exporting nation's revenue).

    Plan (100 TB): lineitem joins orders on the order key (the one
    big shuffle), then ids-only supplier/customer bridges to the two
    25-row nation dims (broadcast); the matrix aggregation is
    |nations|² cells, partial-aggregated map-side. The per-exporter
    share joins the cell frame to its own |nations|-row rollup."""
    t = tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flows = (
        t["lineitem"]
        .join(
            t["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(t["supplier"].select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"), "l_suppkey")
        .join(t["customer"].select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"), "o_custkey")
        .join(F.broadcast(n1), "s_nationkey")
        .join(F.broadcast(n2), "c_nationkey")
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            dsum(rev, 2).alias("revenue"),
        )
    )
    exp_tot = flows.groupBy("supp_nation").agg(
        F.sum(F.col("revenue").cast(DEC)).cast("double").alias("exp_revenue")
    )
    return (
        flows.join(exp_tot, "supp_nation")
        .select(
            "supp_nation",
            "cust_nation",
            "n_lines",
            "revenue",
            fround(F.col("revenue") / F.col("exp_revenue"), 6).alias("exp_share"),
        )
        .orderBy("supp_nation", "cust_nation")
    )


O_NATION_TRADE_BALANCE = f"""
WITH flows AS (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         CAST(count(*) AS BIGINT) AS n_lines,
         {o_dsum("l_extendedprice * (1 - l_discount)", 2)} AS revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  GROUP BY 1, 2
),
exp_tot AS (
  SELECT supp_nation,
         CAST(sum(CAST(revenue AS DECIMAL(30,10))) AS DOUBLE) AS exp_revenue
  FROM flows GROUP BY 1
)
SELECT supp_nation, cust_nation, n_lines, revenue,
       {o_fround("revenue / exp_revenue", 6)} AS exp_share
FROM flows JOIN exp_tot USING (supp_nation)
ORDER BY supp_nation, cust_nation
"""

QUERIES["nation_trade_balance"] = q_nation_trade_balance
ORACLES["nation_trade_balance"] = O_NATION_TRADE_BALANCE


def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-response screen per brand: the OLS slope (and fit) of
    quantity on discount — does a deeper discount move more units of
    this brand? The pricing-team readout next to [q_promo_revenue]'s
    revenue split. Positive slope = discount-responsive.

    Exactness: the co-moment form slope = (n·Sxy − Sx·Sy) /
    (n·Sxx − Sx²) over decimal-folded sums — every operand
    engine-identical; r² from the same sums.

    Plan (100 TB): one part-key join for the brand, ONE
    partial-aggregable groupBy to |brands| cells; the regression is
    row-local arithmetic on the cell frame."""
    t = tables(spark, sf_dir, "lineitem", "part")
    x, y = F.col("l_discount"), F.col("l_quantity")
    cells = (
        t["lineitem"]
        .join(t["part"].select(F.col("p_partkey").alias("l_partkey"), "p_brand"), "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(x.cast(DEC)).alias("sx"),
            F.sum(y.cast(DEC)).alias("sy"),
            F.sum((x * y).cast(DEC)).alias("sxy"),
            F.sum((x * x).cast(DEC)).alias("sxx"),
            F.sum((y * y).cast(DEC)).alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    return cells.select(
        "p_brand",
        "n",
        fround(cov_n / var_x, 6).alias("slope"),
        fround(sy / n - (cov_n / var_x) * (sx / n), 6).alias("intercept"),
        fround((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
    ).orderBy("p_brand")


O_PRICE_ELASTICITY = f"""
WITH cells AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_discount * l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(l_discount * l_discount AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS syy
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT p_brand, n,
       {o_fround("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)} AS slope,
       {o_fround("sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / n)", 6)} AS intercept,
       {o_fround("pow(n * sxy - sx * sy, 2) / ((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)} AS r2
FROM cells ORDER BY p_brand
"""

QUERIES["price_elasticity"] = q_price_elasticity
ORACLES["price_elasticity"] = O_PRICE_ELASTICITY


def q_customer_churn_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn audit per nation: customers whose LAST order is more than
    365 days before the newest order anywhere (the data-derived
    anchor — reproducible, no wall clock), plus never-ordered
    customers, and the combined at-risk rate — the lifecycle readout
    next to [q_new_vs_returning]'s acquisition view.

    Plan (100 TB): per-customer last-order is one partial-aggregable
    groupBy; the 1-row anchor broadcast-cross-joins; customers LEFT
    join that |customers|-row frame on the customer key (ids only) so
    never-ordered rows survive; one |nations|-row aggregate ends it."""
    t = tables(spark, sf_dir, "orders", "customer", "nation")
    last = t["orders"].groupBy("o_custkey").agg(
        F.max(F.unix_micros("o_orderdate")).alias("last_us")
    )
    anchor = t["orders"].agg(F.max(F.unix_micros("o_orderdate")).alias("anchor_us"))
    year_us = 365 * 86_400_000_000
    j = (
        t["customer"]
        .select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
        .join(last, "o_custkey", "left")
        .crossJoin(F.broadcast(anchor))
        .join(
            F.broadcast(
                t["nation"].select(
                    F.col("n_nationkey").alias("c_nationkey"), "n_name"
                )
            ),
            "c_nationkey",
        )
    )
    churned = (F.col("last_us").isNotNull()) & (
        F.col("anchor_us") - F.col("last_us") > year_us
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum(F.when(F.col("last_us").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_never_ordered"),
            F.sum(F.when(churned, 1).otherwise(0)).cast("long").alias("n_churned"),
        )
        .select(
            "n_name",
            "n_customers",
            "n_never_ordered",
            "n_churned",
            fround(
                (F.col("n_never_ordered") + F.col("n_churned")) / F.col("n_customers"),
                6,
            ).alias("at_risk_rate"),
        )
        .orderBy("n_name")
    )


O_CUSTOMER_CHURN_FLAGS = f"""
WITH last AS (
  SELECT o_custkey, max(epoch_us(o_orderdate)) AS last_us
  FROM orders GROUP BY 1
),
anchor AS (SELECT max(epoch_us(o_orderdate)) AS anchor_us FROM orders),
j AS (
  SELECT n.n_name, l.last_us, a.anchor_us
  FROM customer c
  LEFT JOIN last l ON c.c_custkey = l.o_custkey
  CROSS JOIN anchor a
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN last_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_never_ordered,
       CAST(sum(CASE WHEN last_us IS NOT NULL AND anchor_us - last_us > 365 * 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
       {o_fround("(sum(CASE WHEN last_us IS NULL THEN 1 ELSE 0 END) + sum(CASE WHEN last_us IS NOT NULL AND anchor_us - last_us > 365 * 86400000000 THEN 1 ELSE 0 END)) / CAST(count(*) AS DOUBLE)", 6)} AS at_risk_rate
FROM j GROUP BY 1 ORDER BY 1
"""

QUERIES["customer_churn_flags"] = q_customer_churn_flags
ORACLES["customer_churn_flags"] = O_CUSTOMER_CHURN_FLAGS


def q_supplier_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source-risk bands: per part, the share of shipped
    quantity held by its TOP supplier, banded into risk tiers — the
    procurement-resilience histogram next to
    [q_supplier_price_outliers]' pricing screen and [q_supplier_hhi]'s
    nation-level concentration.

    Exactness: quantities are exact decimal sums; the top share is an
    integer-exact max/sum ratio; band edges compare the ROUNDED share
    so the cut is engine-identical.

    Plan (100 TB): two partial-aggregable groupBys — (part, supp)
    quantities then per-part max/total via one more groupBy — and a
    |parts|-row banding projection into a <= 4-row histogram."""
    t = tables(spark, sf_dir, "lineitem")
    ps = t["lineitem"].groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("qty")
    )
    per_part = ps.groupBy("l_partkey").agg(
        (F.max("qty").cast("double") / F.sum("qty").cast("double")).alias("top_share_raw"),
        F.count("*").cast("long").alias("n_supps"),
    )
    share = fround(F.col("top_share_raw"), 6)
    band = (
        F.when(share >= 0.999999, F.lit("single_source"))
        .when(share >= 0.75, F.lit("dominant"))
        .when(share >= 0.5, F.lit("majority"))
        .otherwise(F.lit("diversified"))
    )
    return (
        per_part.select(band.alias("risk_band"), "n_supps")
        .groupBy("risk_band")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            fround(F.avg("n_supps"), 4).alias("avg_suppliers"),
        )
        .orderBy("risk_band")
    )


O_SUPPLIER_DEPENDENCY = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(30,10))) AS qty
  FROM lineitem GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey,
         CAST(max(qty) AS DOUBLE) / CAST(sum(qty) AS DOUBLE) AS top_share_raw,
         CAST(count(*) AS BIGINT) AS n_supps
  FROM ps GROUP BY 1
),
banded AS (
  SELECT CASE WHEN {o_fround("top_share_raw", 6)} >= 0.999999 THEN 'single_source'
              WHEN {o_fround("top_share_raw", 6)} >= 0.75 THEN 'dominant'
              WHEN {o_fround("top_share_raw", 6)} >= 0.5 THEN 'majority'
              ELSE 'diversified' END AS risk_band,
         n_supps
  FROM per_part
)
SELECT risk_band,
       CAST(count(*) AS BIGINT) AS n_parts,
       {o_fround("avg(n_supps)", 4)} AS avg_suppliers
FROM banded GROUP BY 1 ORDER BY 1
"""

QUERIES["supplier_dependency"] = q_supplier_dependency
ORACLES["supplier_dependency"] = O_SUPPLIER_DEPENDENCY


def q_order_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly order-line backlog curve: lines placed (by order date)
    vs lines shipped (by ship date) per ISO week, with the running
    open-line backlog — the fulfillment-health time series next to
    [q_ship_latency]'s per-line latency distribution.

    date_trunc('week') cast to DATE is the proven engine-portable
    week key (both ISO Monday).

    Plan (100 TB): two partial-aggregable weekly count scans (placed
    needs the one order-key join), a full outer join on the ~weeks-
    sized key, and a cumsum window over the |weeks|-row frame —
    nothing row-level ever sorts."""
    t = tables(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"].join(
        t["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"),
        "l_orderkey",
    )
    placed = li.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week")
    ).agg(F.count("*").cast("long").alias("placed"))
    shipped = t["lineitem"].groupBy(
        F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("week")
    ).agg(F.count("*").cast("long").alias("shipped"))
    j = placed.join(shipped, "week", "full").fillna(0, subset=["placed", "shipped"])
    w = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, 0)
    return (
        j.select(
            "week",
            "placed",
            "shipped",
            (F.sum("placed").over(w) - F.sum("shipped").over(w))
            .cast("long")
            .alias("backlog"),
        )
        .orderBy("week")
    )


O_ORDER_BACKLOG_CURVE = """
WITH placed AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
         CAST(count(*) AS BIGINT) AS placed
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
),
shipped AS (
  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
         CAST(count(*) AS BIGINT) AS shipped
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT coalesce(p.week, s.week) AS week,
         coalesce(placed, 0) AS placed,
         coalesce(shipped, 0) AS shipped
  FROM placed p FULL JOIN shipped s ON p.week = s.week
)
SELECT week, placed, shipped,
       CAST(sum(placed) OVER w - sum(shipped) OVER w AS BIGINT) AS backlog
FROM j
WINDOW w AS (ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY week
"""

QUERIES["order_backlog_curve"] = q_order_backlog_curve
ORACLES["order_backlog_curve"] = O_ORDER_BACKLOG_CURVE


def q_weekly_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-volatility profile per nation: week-over-week growth
    rates on a GAP-FREE week spine (the [q_period_over_period]
    discipline at week grain), summarized as mean growth, growth
    stddev, and the worst single week — the risk column next to the
    trend dashboards.

    Weeks with zero prior revenue are excluded from growth stats
    (division by zero is not a growth rate) in both engines.

    Plan (100 TB): one (nation, week) revenue groupBy, a broadcast
    |weeks|-row spine cross join per nation for gap-freeness, one lag
    window over the |nations| x |weeks| aggregated frame, one final
    |nations|-row aggregate."""
    t = tables(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    weekly = (
        t["lineitem"]
        .join(
            t["orders"].select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_orderdate"
            ),
            "l_orderkey",
        )
        .join(
            t["customer"].select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
            "o_custkey",
        )
        .join(
            F.broadcast(
                t["nation"].select(F.col("n_nationkey").alias("c_nationkey"), "n_name")
            ),
            "c_nationkey",
        )
        .groupBy(
            "n_name",
            F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week"),
        )
        .agg(F.sum(rev.cast(DEC)).cast("double").alias("wrev"))
    )
    bounds = weekly.agg(
        F.min("week").alias("w0"), F.max("week").alias("w1")
    )
    spine = (
        weekly.select("n_name")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "n_name",
            F.explode(F.sequence(F.col("w0"), F.col("w1"), F.expr("interval 7 days"))).alias("week"),
        )
    )
    filled = spine.join(weekly, ["n_name", "week"], "left").fillna(
        0.0, subset=["wrev"]
    )
    w = Window.partitionBy("n_name").orderBy("week")
    g = filled.withColumn("prev", F.lag("wrev").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("prev") > 0)
    ).withColumn("growth", F.col("wrev") / F.col("prev") - 1)
    return (
        g.groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_weeks"),
            fround(
                F.sum(F.col("growth").cast(DEC)).cast("double") / F.count("*"), 6
            ).alias("mean_growth"),
            fround(
                F.sqrt(
                    (
                        F.sum((F.col("growth") * F.col("growth")).cast(DEC)).cast("double")
                        - F.pow(F.sum(F.col("growth").cast(DEC)).cast("double"), 2)
                        / F.count("*")
                    )
                    / (F.count("*") - 1)
                ),
                6,
            ).alias("growth_std"),
            fround(F.min("growth"), 6).alias("worst_week"),
        )
        .orderBy("n_name")
    )


O_WEEKLY_VOLATILITY = f"""
WITH weekly AS (
  SELECT n_name, CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) AS wrev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
bounds AS (SELECT min(week) AS w0, max(week) AS w1 FROM weekly),
spine AS (
  SELECT n_name, CAST(unnest(range(CAST(w0 AS TIMESTAMP), CAST(w1 AS TIMESTAMP) + INTERVAL 1 DAY, INTERVAL 7 DAY)) AS DATE) AS week
  FROM (SELECT DISTINCT n_name FROM weekly) CROSS JOIN bounds
),
filled AS (
  SELECT s.n_name, s.week, coalesce(w.wrev, 0.0) AS wrev
  FROM spine s LEFT JOIN weekly w ON s.n_name = w.n_name AND s.week = w.week
),
g AS (
  SELECT n_name, wrev / prev - 1 AS growth
  FROM (SELECT n_name, wrev,
               lag(wrev) OVER (PARTITION BY n_name ORDER BY week) AS prev
        FROM filled)
  WHERE prev IS NOT NULL AND prev > 0
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_weeks,
       {o_fround("CAST(sum(CAST(growth AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 6)} AS mean_growth,
       {o_fround("sqrt((CAST(sum(CAST(growth * growth AS DECIMAL(30,10))) AS DOUBLE) - pow(CAST(sum(CAST(growth AS DECIMAL(30,10))) AS DOUBLE), 2) / count(*)) / (count(*) - 1))", 6)} AS growth_std,
       {o_fround("min(growth)", 6)} AS worst_week
FROM g GROUP BY 1 ORDER BY 1
"""

QUERIES["weekly_volatility"] = q_weekly_volatility
ORACLES["weekly_volatility"] = O_WEEKLY_VOLATILITY


def q_discount_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate by discount depth: per discount level, line count,
    returned-line rate, and average quantity — does discounting move
    units that come straight back? The margin-quality check next to
    [q_price_elasticity]'s volume slope.

    Discounts are a small discrete set in this schema, so the group
    key is the exact value — no binning ambiguity.

    Plan (100 TB): ONE conditional-aggregate scan to |discounts|
    cells. Nothing joins."""
    t = tables(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .groupBy(fround(F.col("l_discount"), 2).alias("discount"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_returned"),
            davg(F.col("l_quantity"), 4).alias("avg_qty"),
        )
        .select(
            "discount",
            "n_lines",
            "n_returned",
            fround(F.col("n_returned") / F.col("n_lines"), 6).alias("return_rate"),
            "avg_qty",
        )
        .orderBy("discount")
    )


O_DISCOUNT_RETURN_RATE = f"""
SELECT {o_fround("l_discount", 2)} AS discount,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
       {o_fround("sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 6)} AS return_rate,
       {o_davg("l_quantity", 4)} AS avg_qty
FROM lineitem GROUP BY 1 ORDER BY 1
"""

QUERIES["discount_return_rate"] = q_discount_return_rate
ORACLES["discount_return_rate"] = O_DISCOUNT_RETURN_RATE


def q_revenue_concentration_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 number per nation: how many customers — and what
    fraction of the customer base — fund 80% of the nation's revenue.
    [q_gini_concentration] scores the inequality; this is the
    operational headcount a sales team actually plans around.

    Determinism: customers rank by (spend desc, custkey asc) —
    decimal-exact spend, full tiebreak; the 80% threshold compares
    decimal-exact cumulative sums, so the cut row is engine-exact.

    Plan (100 TB): per-customer spend is one groupBy; the rank and
    running sum ride a window partitioned BY NATION (no global
    sort); the answer is one more |nations|-row aggregate."""
    t = tables(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    spend = (
        t["lineitem"]
        .join(
            t["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            t["customer"].select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
            "o_custkey",
        )
        .join(
            F.broadcast(
                t["nation"].select(F.col("n_nationkey").alias("c_nationkey"), "n_name")
            ),
            "c_nationkey",
        )
        .groupBy("n_name", "o_custkey")
        .agg(F.sum(rev.cast(DEC)).alias("spend"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("spend"), F.asc("o_custkey"))
    wtot = Window.partitionBy("n_name")
    ranked = spend.select(
        "n_name",
        F.row_number().over(w).alias("rnk"),
        F.sum("spend").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("spend").over(wtot).alias("tot"),
        F.count("*").over(wtot).alias("n_cust"),
    )
    hit = ranked.filter(
        F.col("cum").cast("double") >= 0.8 * F.col("tot").cast("double")
    )
    return (
        hit.groupBy("n_name")
        .agg(
            F.min("rnk").cast("long").alias("n_top_customers"),
            F.first("n_cust").cast("long").alias("n_customers"),
        )
        .select(
            "n_name",
            "n_top_customers",
            "n_customers",
            fround(F.col("n_top_customers") / F.col("n_customers"), 6).alias(
                "top_frac"
            ),
        )
        .orderBy("n_name")
    )


O_REVENUE_CONCENTRATION_8020 = f"""
WITH spend AS (
  SELECT n_name, o_custkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS spend
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT n_name,
         row_number() OVER (PARTITION BY n_name ORDER BY spend DESC, o_custkey) AS rnk,
         sum(spend) OVER (PARTITION BY n_name ORDER BY spend DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(spend) OVER (PARTITION BY n_name) AS tot,
         count(*) OVER (PARTITION BY n_name) AS n_cust
  FROM spend
)
SELECT n_name,
       CAST(min(rnk) AS BIGINT) AS n_top_customers,
       CAST(any_value(n_cust) AS BIGINT) AS n_customers,
       {o_fround("min(rnk) / CAST(any_value(n_cust) AS DOUBLE)", 6)} AS top_frac
FROM ranked
WHERE CAST(cum AS DOUBLE) >= 0.8 * CAST(tot AS DOUBLE)
GROUP BY 1 ORDER BY 1
"""

QUERIES["revenue_concentration_8020"] = q_revenue_concentration_8020
ORACLES["revenue_concentration_8020"] = O_REVENUE_CONCENTRATION_8020


def q_segment_revenue_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment P&L profile: per c_mktsegment the customer
    count, order count, decimal-exact revenue, revenue share, and
    average order value — the first slice every commercial dashboard
    opens with (the customer dimension [q_rfm_segments] computes
    behaviorally, this reads declaratively).

    Plan (100 TB): lineitem joins orders on the order key (the one
    big shuffle), the |customers|-sized segment bridge streams on the
    customer key; ONE |segments|-row aggregate + a 1-row total
    broadcast."""
    t = tables(spark, sf_dir, "lineitem", "orders", "customer")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        t["lineitem"]
        .join(
            t["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            t["customer"].select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
            "o_custkey",
        )
    )
    per = j.groupBy("c_mktsegment").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        F.sum(rev.cast(DEC)).alias("rev_dec"),
    )
    tot = per.agg(F.sum("rev_dec").alias("rev_all"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            "n_customers",
            "n_orders",
            fround(F.col("rev_dec").cast("double"), 2).alias("revenue"),
            fround(
                F.col("rev_dec").cast("double") / F.col("rev_all").cast("double"), 6
            ).alias("rev_share"),
            fround(F.col("rev_dec").cast("double") / F.col("n_orders"), 4).alias(
                "avg_order_value"
            ),
        )
        .orderBy("c_mktsegment")
    )


O_SEGMENT_REVENUE_PROFILE = f"""
WITH per AS (
  SELECT c_mktsegment,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS rev_dec
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
),
tot AS (SELECT sum(rev_dec) AS rev_all FROM per)
SELECT c_mktsegment, n_customers, n_orders,
       {o_fround("CAST(rev_dec AS DOUBLE)", 2)} AS revenue,
       {o_fround("CAST(rev_dec AS DOUBLE) / CAST(rev_all AS DOUBLE)", 6)} AS rev_share,
       {o_fround("CAST(rev_dec AS DOUBLE) / n_orders", 4)} AS avg_order_value
FROM per CROSS JOIN tot
ORDER BY c_mktsegment
"""

QUERIES["segment_revenue_profile"] = q_segment_revenue_profile
ORACLES["segment_revenue_profile"] = O_SEGMENT_REVENUE_PROFILE


def q_latency_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly fulfillment-latency trend: decimal-exact mean and exact
    p90 of order-to-ship days per order month — the time dimension
    [q_ship_latency]'s per-priority snapshot lacks; a drifting p90 is
    the early warning before SLAs breach.

    Latency = integer microsecond delta / 86400e6 — identical doubles;
    percentile == quantile_cont (proven portable).

    Plan (100 TB): one order-key join, one month groupBy (percentile
    partials, no global sort)."""
    t = tables(spark, sf_dir, "lineitem", "orders")
    lat = (
        (F.unix_micros("l_shipdate") - F.unix_micros("o_orderdate"))
        / F.lit(86_400_000_000.0)
    )
    j = t["lineitem"].join(
        t["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"),
        "l_orderkey",
    ).select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        lat.alias("lat"),
    )
    return (
        j.groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            fround(
                F.sum(F.col("lat").cast(DEC)).cast("double") / F.count("*"), 6
            ).alias("mean_days"),
            fround(F.percentile("lat", F.lit(0.9)), 6).alias("p90_days"),
        )
        .orderBy("month")
    )


O_LATENCY_TREND = f"""
WITH j AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         (epoch_us(l_shipdate) - epoch_us(o_orderdate)) / 86400000000.0 AS lat
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT month,
       CAST(count(*) AS BIGINT) AS n_lines,
       {o_fround("CAST(sum(CAST(lat AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 6)} AS mean_days,
       {o_fround("quantile_cont(lat, 0.9)", 6)} AS p90_days
FROM j GROUP BY 1 ORDER BY 1
"""

QUERIES["latency_trend"] = q_latency_trend
ORACLES["latency_trend"] = O_LATENCY_TREND


def q_brand_loyalty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand repeat-purchase loyalty: per brand, distinct buyers, the
    buyers who came back (>= 2 distinct orders containing the brand),
    and the repeat rate — the loyalty readout next to
    [q_price_elasticity]'s discount response.

    Plan (100 TB): (brand, customer) order counts collapse through
    TWO partial-aggregable groupBys (distinct (brand, cust, order)
    first, then counts); the brand bridge joins stream on the part
    key. One |brands|-row output."""
    t = tables(spark, sf_dir, "lineitem", "orders", "part")
    bco = (
        t["lineitem"]
        .join(
            t["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            t["part"].select(F.col("p_partkey").alias("l_partkey"), "p_brand"),
            "l_partkey",
        )
        .select("p_brand", "o_custkey", "l_orderkey")
        .distinct()
    )
    per_cust = bco.groupBy("p_brand", "o_custkey").agg(
        F.count("*").cast("long").alias("n_orders")
    )
    return (
        per_cust.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_buyers"),
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_repeat_buyers"),
        )
        .select(
            "p_brand",
            "n_buyers",
            "n_repeat_buyers",
            fround(F.col("n_repeat_buyers") / F.col("n_buyers"), 6).alias(
                "repeat_rate"
            ),
        )
        .orderBy("p_brand")
    )


O_BRAND_LOYALTY = f"""
WITH bco AS (
  SELECT DISTINCT p_brand, o_custkey, l_orderkey
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
),
per_cust AS (
  SELECT p_brand, o_custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM bco GROUP BY 1, 2
)
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_buyers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_buyers,
       {o_fround("sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 6)} AS repeat_rate
FROM per_cust GROUP BY 1 ORDER BY 1
"""

QUERIES["brand_loyalty"] = q_brand_loyalty
ORACLES["brand_loyalty"] = O_BRAND_LOYALTY


def q_parts_never_sold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stock audit: parts with NO lineitem at all, counted per
    brand with the dead share — the catalog-hygiene anti-join
    ([q_orphan_audit] checks the FK the other way).

    Plan (100 TB): one left-anti join on the part key (ids only),
    one |brands|-row aggregate over the full catalog for the
    denominators."""
    t = tables(spark, sf_dir, "part", "lineitem")
    sold = t["lineitem"].select(F.col("l_partkey").alias("p_partkey")).distinct()
    dead = t["part"].join(sold, "p_partkey", "left_anti").groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_dead")
    )
    allb = t["part"].groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_parts")
    )
    return (
        allb.join(dead, "p_brand", "left")
        .fillna(0, subset=["n_dead"])
        .select(
            "p_brand",
            "n_parts",
            "n_dead",
            fround(F.col("n_dead") / F.col("n_parts"), 6).alias("dead_share"),
        )
        .orderBy("p_brand")
    )


O_PARTS_NEVER_SOLD = f"""
WITH dead AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_dead
  FROM part
  WHERE p_partkey NOT IN (SELECT DISTINCT l_partkey FROM lineitem)
  GROUP BY 1
),
allb AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts FROM part GROUP BY 1
)
SELECT p_brand, n_parts, coalesce(n_dead, 0) AS n_dead,
       {o_fround("coalesce(n_dead, 0) / CAST(n_parts AS DOUBLE)", 6)} AS dead_share
FROM allb LEFT JOIN dead USING (p_brand)
ORDER BY p_brand
"""

QUERIES["parts_never_sold"] = q_parts_never_sold
ORACLES["parts_never_sold"] = O_PARTS_NEVER_SOLD


def q_first_order_ltv_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does a customer's FIRST order value predict their lifetime
    value? Pearson correlation (decimal co-moments) between first-
    order total and total spend, plus the mean LTV multiple — the
    one-number justification for first-order-based acquisition
    bidding ([q_cohort_ltv] gives the curve; this gives the signal
    strength).

    First order = (min date, tie to min orderkey) — deterministic.

    Plan (100 TB): per-customer first order via one max_by groupBy
    (no window over the fact table), totals in the same pass; the
    correlation is a 1-row decimal co-moment aggregate."""
    t = tables(spark, sf_dir, "orders")
    per = t["orders"].groupBy("o_custkey").agg(
        F.min_by(
            F.col("o_totalprice"),
            F.struct(F.unix_micros("o_orderdate").alias("us"), F.col("o_orderkey")),
        ).alias("first_val"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("ltv"),
        F.count("*").cast("long").alias("n_orders"),
    )
    x, y = F.col("first_val"), F.col("ltv")
    agg = per.agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(x.cast(DEC)).alias("sx"),
        F.sum(y.cast(DEC)).alias("sy"),
        F.sum((x * y).cast(DEC)).alias("sxy"),
        F.sum((x * x).cast(DEC)).alias("sxx"),
        F.sum((y * y).cast(DEC)).alias("syy"),
    )
    n = F.col("n_customers").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return agg.select(
        "n_customers",
        fround(corr, 6).alias("first_ltv_corr"),
        fround(sy / sx, 6).alias("mean_ltv_multiple"),
    )


O_FIRST_ORDER_LTV_CORR = f"""
WITH firsts AS (
  SELECT o_custkey, o_totalprice AS first_val
  FROM (SELECT o_custkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders)
  WHERE rn = 1
),
tots AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE) AS ltv
  FROM orders GROUP BY 1
),
per AS (
  SELECT f.o_custkey, f.first_val, t.ltv
  FROM firsts f JOIN tots t USING (o_custkey)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(CAST(first_val AS DECIMAL(30,10))) AS DOUBLE) AS sx,
         CAST(sum(CAST(ltv AS DECIMAL(30,10))) AS DOUBLE) AS sy,
         CAST(sum(CAST(first_val * ltv AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(first_val * first_val AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(ltv * ltv AS DECIMAL(30,10))) AS DOUBLE) AS syy
  FROM per
)
SELECT n_customers,
       {o_fround("(n_customers * sxy - sx * sy) / sqrt((n_customers * sxx - sx * sx) * (n_customers * syy - sy * sy))", 6)} AS first_ltv_corr,
       {o_fround("sy / sx", 6)} AS mean_ltv_multiple
FROM agg
"""

QUERIES["first_order_ltv_corr"] = q_first_order_ltv_corr
ORACLES["first_order_ltv_corr"] = O_FIRST_ORDER_LTV_CORR


def q_weekend_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday commerce profile: order counts, decimal-
    exact revenue, average order value, and the weekend/weekday AOV
    ratio — the day-mix control every promo analysis needs before
    crediting a campaign ([q_activity_heatmap] is the event-side
    grid; this is the money side).

    dayofweek: Spark's is 1=Sunday; DuckDB dow() is 0=Sunday — both
    sides classify weekend as {Sat, Sun} explicitly, so the mapping
    difference cannot leak.

    Plan (100 TB): ONE conditional-aggregate scan of orders into two
    cells; the ratio cross-joins two 1-row frames."""
    t = tables(spark, sf_dir, "orders")
    is_wknd = F.dayofweek("o_orderdate").isin(1, 7)  # Sun=1, Sat=7
    per = t["orders"].groupBy(
        is_wknd.alias("is_weekend")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec"),
    )
    return per.select(
        "is_weekend",
        "n_orders",
        fround(F.col("rev_dec").cast("double"), 2).alias("revenue"),
        fround(F.col("rev_dec").cast("double") / F.col("n_orders"), 4).alias(
            "avg_order_value"
        ),
    ).orderBy("is_weekend")


O_WEEKEND_EFFECT = f"""
SELECT dayofweek(o_orderdate) IN (0, 6) AS is_weekend,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_fround("CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)", 2)} AS revenue,
       {o_fround("CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 4)} AS avg_order_value
FROM orders GROUP BY 1 ORDER BY 1
"""

QUERIES["weekend_effect"] = q_weekend_effect
ORACLES["weekend_effect"] = O_WEEKEND_EFFECT


def q_order_size_vs_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do bigger orders ship slower? Per order-priority, the Pearson
    correlation (decimal co-moments) between basket line count and
    the order's mean ship latency — the ops question behind
    [q_latency_trend]'s drift and [q_ship_latency]'s tails.

    Plan (100 TB): per-order (lines, mean latency) is one groupBy on
    the order key carrying the priority along; the correlation is a
    |priorities|-row co-moment aggregate."""
    t = tables(spark, sf_dir, "lineitem", "orders")
    lat = (
        (F.unix_micros("l_shipdate") - F.unix_micros("o_orderdate"))
        / F.lit(86_400_000_000.0)
    )
    per_order = (
        t["lineitem"]
        .join(
            t["orders"].select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_orderdate",
                "o_orderpriority",
            ),
            "l_orderkey",
        )
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            (F.sum(lat.cast(DEC)).cast("double") / F.count("*")).alias("mlat"),
        )
    )
    x, y = F.col("n_lines").cast("double"), F.col("mlat")
    agg = per_order.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(x.cast(DEC)).alias("sx"),
        F.sum(y.cast(DEC)).alias("sy"),
        F.sum((x * y).cast(DEC)).alias("sxy"),
        F.sum((x * x).cast(DEC)).alias("sxx"),
        F.sum((y * y).cast(DEC)).alias("syy"),
    )
    n = F.col("n_orders").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return agg.select(
        "o_orderpriority",
        "n_orders",
        fround(corr, 6).alias("size_latency_corr"),
        fround(sy / n, 4).alias("mean_latency_days"),
    ).orderBy("o_orderpriority")


O_ORDER_SIZE_VS_LATENCY = f"""
WITH per_order AS (
  SELECT l_orderkey, o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST((epoch_us(l_shipdate) - epoch_us(o_orderdate)) / 86400000000.0 AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS mlat
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
agg AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(n_lines AS DECIMAL(30,10))) AS DOUBLE) AS sx,
         CAST(sum(CAST(mlat AS DECIMAL(30,10))) AS DOUBLE) AS sy,
         CAST(sum(CAST(n_lines * mlat AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(n_lines * CAST(n_lines AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(mlat * mlat AS DECIMAL(30,10))) AS DOUBLE) AS syy
  FROM per_order GROUP BY 1
)
SELECT o_orderpriority, n_orders,
       {o_fround("(n_orders * sxy - sx * sy) / sqrt((n_orders * sxx - sx * sx) * (n_orders * syy - sy * sy))", 6)} AS size_latency_corr,
       {o_fround("sy / n_orders", 4)} AS mean_latency_days
FROM agg ORDER BY o_orderpriority
"""

QUERIES["order_size_vs_latency"] = q_order_size_vs_latency
ORACLES["order_size_vs_latency"] = O_ORDER_SIZE_VS_LATENCY


def q_balance_vs_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance vs realized-spend screen per market segment:
    Pearson correlation between c_acctbal and the customer's total
    order value, plus the revenue share carried by NEGATIVE-balance
    customers — the credit-risk lens on the commercial base
    ([q_customer_churn_flags] is the activity lens).

    Customers with no orders count as zero spend (left join), so the
    correlation covers the whole base, not just actives.

    Plan (100 TB): per-customer spend is one groupBy; the |customers|
    frame joins customers on the customer key (ids + one double);
    one |segments|-row co-moment aggregate ends it."""
    t = tables(spark, sf_dir, "orders", "customer")
    spend = t["orders"].groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("spend")
    )
    j = (
        t["customer"]
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .join(spend, "c_custkey", "left")
        .fillna(0.0, subset=["spend"])
    )
    x, y = F.col("c_acctbal"), F.col("spend")
    agg = j.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(x.cast(DEC)).alias("sx"),
        F.sum(y.cast(DEC)).alias("sy"),
        F.sum((x * y).cast(DEC)).alias("sxy"),
        F.sum((x * x).cast(DEC)).alias("sxx"),
        F.sum((y * y).cast(DEC)).alias("syy"),
        F.sum(F.when(x < 0, y).otherwise(0).cast(DEC)).alias("neg_spend"),
    )
    n = F.col("n_customers").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return agg.select(
        "c_mktsegment",
        "n_customers",
        fround(corr, 6).alias("balance_spend_corr"),
        fround(F.col("neg_spend").cast("double") / sy, 6).alias(
            "neg_balance_rev_share"
        ),
    ).orderBy("c_mktsegment")


O_BALANCE_VS_SPEND = f"""
WITH spend AS (
  SELECT o_custkey AS c_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE) AS spend
  FROM orders GROUP BY 1
),
j AS (
  SELECT c.c_mktsegment, c.c_acctbal, coalesce(s.spend, 0.0) AS spend
  FROM customer c LEFT JOIN spend s USING (c_custkey)
),
agg AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE) AS sx,
         CAST(sum(CAST(spend AS DECIMAL(30,10))) AS DOUBLE) AS sy,
         CAST(sum(CAST(c_acctbal * spend AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(c_acctbal * c_acctbal AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(spend * spend AS DECIMAL(30,10))) AS DOUBLE) AS syy,
         CAST(sum(CAST(CASE WHEN c_acctbal < 0 THEN spend ELSE 0 END AS DECIMAL(30,10))) AS DOUBLE) AS neg_spend
  FROM j GROUP BY 1
)
SELECT c_mktsegment, n_customers,
       {o_fround("(n_customers * sxy - sx * sy) / sqrt((n_customers * sxx - sx * sx) * (n_customers * syy - sy * sy))", 6)} AS balance_spend_corr,
       {o_fround("neg_spend / sy", 6)} AS neg_balance_rev_share
FROM agg ORDER BY c_mktsegment
"""

QUERIES["balance_vs_spend"] = q_balance_vs_spend
ORACLES["balance_vs_spend"] = O_BALANCE_VS_SPEND


def q_priority_mix_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority composition drift: per year, each priority's
    share of orders — the upstream-mix shift that silently moves
    every latency SLA downstream ([q_latency_trend] would show the
    symptom; this shows the cause).

    Plan (100 TB): ONE (year, priority) count groupBy; yearly totals
    derive from the aggregated frame and broadcast back."""
    t = tables(spark, sf_dir, "orders")
    cells = t["orders"].groupBy(
        F.year("o_orderdate").cast("int").alias("yr"), "o_orderpriority"
    ).agg(F.count("*").cast("long").alias("n"))
    tot = cells.groupBy("yr").agg(F.sum("n").cast("long").alias("n_yr"))
    return (
        cells.join(F.broadcast(tot), "yr")
        .select(
            "yr",
            "o_orderpriority",
            "n",
            fround(F.col("n") / F.col("n_yr"), 6).alias("share"),
        )
        .orderBy("yr", "o_orderpriority")
    )


O_PRIORITY_MIX_TREND = f"""
WITH cells AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderpriority,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
),
tot AS (SELECT yr, CAST(sum(n) AS BIGINT) AS n_yr FROM cells GROUP BY 1)
SELECT yr, o_orderpriority, n,
       {o_fround("n / CAST(n_yr AS DOUBLE)", 6)} AS share
FROM cells JOIN tot USING (yr)
ORDER BY yr, o_orderpriority
"""

QUERIES["priority_mix_trend"] = q_priority_mix_trend
ORACLES["priority_mix_trend"] = O_PRIORITY_MIX_TREND


def q_tax_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tax-rate vocabulary audit: every distinct l_tax value with its
    line count, share, and decimal-exact collected tax — the
    reference-data check that catches a feed quietly introducing a
    new rate ([q_fd_audit] would flag the dependency break; this
    names the offending value and prices it).

    Plan (100 TB): ONE |rates|-cell groupBy + a 1-row total
    broadcast."""
    t = tables(spark, sf_dir, "lineitem")
    per = t["lineitem"].groupBy(
        fround(F.col("l_tax"), 2).alias("tax_rate")
    ).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum((F.col("l_extendedprice") * F.col("l_tax")).cast(DEC)).alias("tax_dec"),
    )
    tot = per.agg(F.sum("n_lines").cast("long").alias("n_all"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "tax_rate",
            "n_lines",
            fround(F.col("n_lines") / F.col("n_all"), 6).alias("line_share"),
            fround(F.col("tax_dec").cast("double"), 2).alias("tax_collected"),
        )
        .orderBy("tax_rate")
    )


O_TAX_RATE_AUDIT = f"""
WITH per AS (
  SELECT {o_fround("l_tax", 2)} AS tax_rate,
         CAST(count(*) AS BIGINT) AS n_lines,
         sum(CAST(l_extendedprice * l_tax AS DECIMAL(30,10))) AS tax_dec
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(sum(n_lines) AS BIGINT) AS n_all FROM per)
SELECT tax_rate, n_lines,
       {o_fround("n_lines / CAST(n_all AS DOUBLE)", 6)} AS line_share,
       {o_fround("CAST(tax_dec AS DOUBLE)", 2)} AS tax_collected
FROM per CROSS JOIN tot ORDER BY tax_rate
"""

QUERIES["tax_rate_audit"] = q_tax_rate_audit
ORACLES["tax_rate_audit"] = O_TAX_RATE_AUDIT


def q_part_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-SKU adoption curve: per month, how many parts recorded
    their FIRST EVER sale, with the running distinct-catalog-sold
    cumulative — the assortment-velocity readout next to
    [q_parts_never_sold]'s dead stock.

    First sale = min (orderdate, orderkey tiebreak irrelevant: min
    date suffices for month grain) per part.

    Plan (100 TB): per-part first month is one partial-aggregable
    min groupBy; the curve is a |months|-row count + cumsum window
    over that aggregated frame."""
    t = tables(spark, sf_dir, "lineitem", "orders")
    first = (
        t["lineitem"]
        .join(
            t["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"),
            "l_orderkey",
        )
        .groupBy("l_partkey")
        .agg(
            F.min(F.date_trunc("month", F.col("o_orderdate")).cast("date")).alias(
                "first_month"
            )
        )
    )
    per = first.groupBy(F.col("first_month").alias("month")).agg(
        F.count("*").cast("long").alias("n_new_parts")
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "month",
        "n_new_parts",
        F.sum("n_new_parts").over(w).cast("long").alias("cum_parts_sold"),
    ).orderBy("month")


O_PART_ADOPTION_CURVE = """
WITH first AS (
  SELECT l_partkey,
         min(CAST(date_trunc('month', o_orderdate) AS DATE)) AS first_month
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
),
per AS (
  SELECT first_month AS month, CAST(count(*) AS BIGINT) AS n_new_parts
  FROM first GROUP BY 1
)
SELECT month, n_new_parts,
       CAST(sum(n_new_parts) OVER (ORDER BY month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_parts_sold
FROM per ORDER BY month
"""

QUERIES["part_adoption_curve"] = q_part_adoption_curve
ORACLES["part_adoption_curve"] = O_PART_ADOPTION_CURVE


def q_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier catalog-breadth profile per nation: distinct parts
    supplied per supplier (decimal-exact mean, exact max) and the
    nation's catalog coverage — the supply-base depth view next to
    [q_supplier_dependency]'s per-part risk bands.

    Plan (100 TB): distinct (supplier, part) collapses map-side; one
    per-supplier count, one |nations|-row aggregate; the catalog
    total is a 1-row broadcast."""
    t = tables(spark, sf_dir, "lineitem", "supplier", "nation", "part")
    sp = t["lineitem"].select("l_suppkey", "l_partkey").distinct()
    per_supp = sp.groupBy("l_suppkey").agg(
        F.count("*").cast("long").alias("n_parts")
    )
    cat = t["part"].agg(F.count("*").cast("long").alias("n_catalog"))
    nat_parts = (
        sp.join(
            t["supplier"].select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"),
            "l_suppkey",
        )
        .select("s_nationkey", "l_partkey")
        .distinct()
        .groupBy("s_nationkey")
        .agg(F.count("*").cast("long").alias("nation_parts"))
    )
    j = (
        per_supp.join(
            t["supplier"].select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"),
            "l_suppkey",
        )
        .groupBy("s_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            fround(
                F.sum(F.col("n_parts").cast(DEC)).cast("double") / F.count("*"), 4
            ).alias("avg_parts_per_supplier"),
            F.max("n_parts").alias("max_parts"),
        )
    )
    return (
        j.join(nat_parts, "s_nationkey")
        .join(
            F.broadcast(
                t["nation"].select(F.col("n_nationkey").alias("s_nationkey"), "n_name")
            ),
            "s_nationkey",
        )
        .crossJoin(F.broadcast(cat))
        .select(
            "n_name",
            "n_suppliers",
            "avg_parts_per_supplier",
            "max_parts",
            fround(F.col("nation_parts") / F.col("n_catalog"), 6).alias(
                "catalog_coverage"
            ),
        )
        .orderBy("n_name")
    )


O_SUPPLIER_BREADTH = f"""
WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
per_supp AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_parts FROM sp GROUP BY 1
),
cat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM part),
nat_parts AS (
  SELECT s_nationkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS nation_parts
  FROM sp JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1
),
j AS (
  SELECT s_nationkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         {o_fround("CAST(sum(CAST(n_parts AS DECIMAL(30,10))) AS DOUBLE) / count(*)", 4)} AS avg_parts_per_supplier,
         CAST(max(n_parts) AS BIGINT) AS max_parts
  FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1
)
SELECT n_name, n_suppliers, avg_parts_per_supplier, max_parts,
       {o_fround("nation_parts / CAST(n_catalog AS DOUBLE)", 6)} AS catalog_coverage
FROM j
JOIN nat_parts USING (s_nationkey)
JOIN nation ON s_nationkey = n_nationkey
CROSS JOIN cat
ORDER BY n_name
"""

QUERIES["supplier_breadth"] = q_supplier_breadth
ORACLES["supplier_breadth"] = O_SUPPLIER_BREADTH
