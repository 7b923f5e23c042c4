"""Additional TPC-H-shaped relational benchmarks (Q4/Q10/Q14/Q19
analogues on the driver's synthetic star schema).

The reference has no relational benchmark surface; these shapes pin
down join-strategy behavior the 100 TB design depends on: existential
semi joins (Q4), join+agg+top-k (Q10), broadcast dim join feeding a
conditional global aggregate (Q14), and disjunctive multi-predicate
join pushdown (Q19).  Columns absent from the synthetic schema
(commitdate, shipmode, container) are replaced by equivalent
predicates on existing columns — the plan shape is what's exercised.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.exact import davg, davg_sql, dsum, dsum_sql
from ..registry import register
from ..sources.catalog import load


@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL '60 days'
  )
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 shape: existential semi join (orders having a "
    "late-shipped lineitem, >60 days after order date). r14: spelled "
    "as inner-join + distinct-on-key instead of LEFT SEMI — a "
    "broadcast LeftSemi can only build its RIGHT side, which forced "
    "the planner to hash the whole lineitem projection per run while "
    "the date-filtered orders slice (~4% of orders) streamed past it "
    "(guide §3.1: broadcast the side that fits). The inner form lets "
    "the planner build the small filtered orders side; EXISTS "
    "semantics are restored by distinct on the (unique) order key "
    "before the count. Same result set (oracle unchanged), "
    "BuildRight(lineitem, 600k rows) -> BuildLeft-equivalent "
    "(orders, ~23k rows) at sf0.1.",
    tags=("tpch", "join", "bench"),
)
def q4_order_priority(spark, sf_dir):
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # o_orderkey is the orders PK, so distinct (key, priority) pairs ==
    # distinct keys == the EXISTS order set; no broadcast hint — the
    # size-based planner picks the filtered orders side locally, and at
    # cluster scale (where no side fits) both forms degrade to the same
    # key-partitioned shuffle with AQE free to re-plan.
    late = (
        li.join(
            orders,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("interval 60 days")),
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q10_returned_items",
    oracle=f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    doc="TPC-H Q10 shape: top-20 customers by returned-item revenue. "
    "nation broadcast; orders date filter pushed to the scan; unique "
    "c_custkey tiebreak keeps the LIMIT deterministic.",
    tags=("tpch", "join", "bench"),
)
def q10_returned_items(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
SELECT (100.0 * a / b) AS promo_revenue
FROM (
  SELECT {dsum_sql("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")} AS a,
         {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1996-02-01'
)
""",
    doc="TPC-H Q14 shape: promo revenue share for one month. part is "
    "broadcast; the two conditional sums fold into one aggregate pass; "
    "the final ratio divides two decimal-exact doubles (deterministic).",
    tags=("tpch", "join"),
)
def q14_promo_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    part = load(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    agg = j.agg(
        dsum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))).alias("a"),
        dsum(disc).alias("b"),
    )
    return agg.select((100.0 * F.col("a") / F.col("b")).alias("promo_revenue"))


@register(
    "q19_disjunctive_join",
    oracle=f"""
SELECT {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 5 AND 20
       AND l.l_quantity BETWEEN 10 AND 25)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 40
       AND l.l_quantity BETWEEN 20 AND 50)
""",
    doc="TPC-H Q19 shape: disjunctive brand/size/quantity predicates. "
    "The part-side disjunction (brand+size) is pushed below the "
    "broadcast join; the mixed l+p residual evaluates post-join in one "
    "codegen stage.",
    tags=("tpch", "join"),
)
def q19_disjunctive_join(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 10) & q.between(1, 15))
        | ((b == "Brand#12") & s.between(5, 20) & q.between(10, 25))
        | ((b == "Brand#23") & s.between(10, 40) & q.between(20, 50))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(cond).agg(
        dsum(disc).alias("revenue"), F.count(F.lit(1)).alias("n_lines")
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 shape: pure scan-aggregate with three pushable "
    "predicates and no join. The canonical pushdown probe — every "
    "predicate reaches the parquet scan (row-group pruning on "
    "l_shipdate min/max at scale) and the whole query is one "
    "WholeStageCodegen pass with a partial+final agg, no shuffle of "
    "data rows (one exchange of a single partial-agg row per task).",
    tags=("tpch", "scan", "bench"),
)
def q6_forecast_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
WITH pa AS (
  SELECT l.l_partkey, {davg_sql('l.l_quantity')} AS avg_qty
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#23'
  GROUP BY l.l_partkey
)
SELECT {dsum_sql('l.l_extendedprice')} / 7.0 AS avg_yearly,
       count(*)::BIGINT AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pa ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < 0.2 * pa.avg_qty
""",
    doc="TPC-H Q17 shape: correlated scalar subquery (per-part average "
    "quantity) de-correlated into an aggregate-then-rejoin. The brand "
    "filter broadcasts, the per-part averages are computed once on the "
    "filtered lines and broadcast back — no second scan of the full "
    "fact. davg on both sides keeps the 0.2*avg threshold bit-exact "
    "so borderline rows filter identically in both engines.",
    tags=("tpch", "join", "subquery"),
)
def q17_small_quantity_revenue(spark, sf_dir):
    part = load(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    li = load(spark, sf_dir, "lineitem")
    brand_lines = li.join(
        F.broadcast(part), li.l_partkey == F.col("p_partkey")
    ).drop("p_partkey")
    pa = brand_lines.groupBy("l_partkey").agg(
        davg("l_quantity").alias("avg_qty")
    )
    small = brand_lines.alias("l").join(
        F.broadcast(pa).alias("pa"),
        F.col("l.l_partkey") == F.col("pa.l_partkey"),
    ).filter(F.col("l.l_quantity") < 0.2 * F.col("pa.avg_qty"))
    return small.agg(
        (dsum(F.col("l.l_extendedprice")) / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q22_dormant_customers",
    oracle=f"""
WITH threshold AS (
  SELECT {davg_sql('c_acctbal')} AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment,
       count(*)::BIGINT AS numcust,
       {dsum_sql('c.c_acctbal')} AS totacctbal
FROM customer c, threshold t
WHERE c.c_acctbal > t.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_mktsegment
""",
    doc="TPC-H Q22 shape: global-average scalar subquery gates the "
    "scan, then an anti join drops customers with any urgent order, "
    "grouped per segment (synthetic schema has no c_phone, and every "
    "customer has orders, so the anti side is urgent orders and "
    "c_mktsegment plays cntrycode's role). The one-row threshold "
    "cross-joins as a broadcast; the anti join ships only the filtered "
    "minority of customers. davg keeps the > threshold bit-exact.",
    tags=("tpch", "join", "subquery"),
)
def q22_dormant_customers(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    threshold = cust.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(threshold)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    dormant = rich.join(
        urgent, rich.c_custkey == urgent.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        dsum("c_acctbal").alias("totacctbal"),
    )


@register(
    "q21_suppliers_who_kept_waiting",
    oracle="""
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL '45 days'
)
SELECT s.s_name, count(*)::BIGINT AS numwait
FROM late l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey AND s.s_nationkey = 3
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
  )
GROUP BY s.s_name
""",
    doc="TPC-H Q21 shape: the multi-correlated existential stack — a "
    "supplier's late lineitem on a finished multi-supplier order where "
    "NO other supplier was also late. late-shipment analogue: "
    "l_shipdate > o_orderdate + 45 days (the synthetic schema has no "
    "commit/receipt dates). Spark: the late set computed once, then "
    "LEFT SEMI (exists, other-supplier lineitem) and LEFT ANTI "
    "(not-exists, other late supplier) joins on l_orderkey — both "
    "shuffle on the same key, no correlated re-execution per row.",
    tags=("tpch", "join",),
)
def q21_suppliers_who_kept_waiting(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 45 days"))
        .select("l_orderkey", "l_suppkey")
    )
    s = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
    l1 = late.alias("l1").join(
        s, F.col("l1.l_suppkey") == F.col("s_suppkey")
    )
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    with_other = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    l3 = late.alias("l3")
    sole_late = with_other.join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return sole_late.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("numwait")
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year, {dsum_sql('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l.l_shipdate)::INT AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7 shape (volume shipping): lineitem joined through "
    "supplier->nation and orders->customer->nation with a symmetric "
    "two-nation predicate, revenue per (supp_nation, cust_nation, "
    "ship year). Plan: the three dimension joins broadcast (nation/ "
    "supplier/customer are dim-scale), the orders join is the one "
    "fact-fact shuffle, and the date filter prunes the lineitem scan.",
    tags=("tpch", "join"),
)
def q7_volume_shipping(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    sup = load(spark, sf_dir, "supplier")
    cus = load(spark, sf_dir, "customer")
    ords = load(spark, sf_dir, "orders")
    nat = load(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(n1, sup.s_nationkey == F.col("s_nk"))
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cus, ords.o_custkey == cus.c_custkey)
        .join(n2, cus.c_nationkey == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.withColumn("l_year", F.year("l_shipdate").cast("int"))
        .withColumn("volume", vol)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume").alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle=f"""
SELECT o_year,
       ({dsum_sql("CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END")})
         / ({dsum_sql('volume')}) AS mkt_share
FROM (
  SELECT year(o.o_orderdate)::INT AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  JOIN region r ON n2.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
)
GROUP BY o_year
""",
    doc="TPC-H Q8 shape (national market share): NATION_7 suppliers' "
    "revenue share of the ECONOMY-part market sold to ASIA-region "
    "customers, per order year. The conditional-sum / total-sum ratio "
    "uses the exact-decimal dsum on both sides, so the double division "
    "is bit-identical cross-engine. All five dimension joins broadcast;"
    " lineitem->orders is the single fact shuffle.",
    tags=("tpch", "join"),
)
def q8_market_share(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    sup = load(spark, sf_dir, "supplier")
    cus = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    ords = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    n1 = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(n1, sup.s_nationkey == F.col("s_nk"))
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cus, ords.o_custkey == cus.c_custkey)
        .join(n2, cus.c_nationkey == F.col("c_nk"))
        .join(reg, F.col("c_rk") == reg.r_regionkey)
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    scoped = j.select(
        F.year("o_orderdate").cast("int").alias("o_year"),
        vol.alias("volume"),
        F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(0.0).alias("nation_volume"),
    )
    return scoped.groupBy("o_year").agg(
        (dsum("nation_volume") / dsum("volume")).alias("mkt_share")
    )


@register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no, {dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue0 r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue0)
""",
    doc="TPC-H Q15 shape (top supplier): quarterly per-supplier revenue "
    "view, then the supplier(s) hitting the global max. The max is a "
    "1-row broadcast crossJoin onto the dim-scale revenue frame — no "
    "window sort; the exact-decimal dsum makes the equality-with-max "
    "comparison safe cross-engine (identical double bits).",
    tags=("tpch", "join"),
)
def q15_top_supplier(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    sup = load(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(sup, F.col("supplier_no") == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the synthetic schema has no partsupp table, so the
# Q2/Q9/Q11/Q16/Q20 shapes derive one from lineitem — every distinct
# (partkey, suppkey) pair with a supply cost (cheapest observed unit
# price: exact double division + MIN, bit-identical cross-engine), a
# line count, and an exact total quantity. The derivation is itself the
# plan-shape of interest at 100 TB: one shuffle on the composite key
# with map-side partial aggregation, then reused (broadcast or rejoin)
# by each consumer.
# ---------------------------------------------------------------------------

_PS_CTE = """
ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         count(*)::BIGINT AS ps_availqty,
         min(l_extendedprice / l_quantity) AS ps_supplycost,
         round(sum((l_quantity)::DECIMAL(30,10)), 4)::DOUBLE AS ps_qty
  FROM lineitem
  GROUP BY 1, 2
)
"""


def _partsupp(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.count(F.lit(1)).alias("ps_availqty"),
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"),
        dsum("l_quantity").alias("ps_qty"),
    )


@register(
    "q2_min_cost_supplier",
    oracle=f"""
WITH {_PS_CTE}
SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name, ps.ps_supplycost
FROM ps
JOIN part p     ON p.p_partkey = ps.ps_partkey
JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE' AND p.p_size >= 40 AND p.p_name LIKE '%bolt%'
  AND ps.ps_supplycost = (
    SELECT min(ps2.ps_supplycost)
    FROM ps ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2   ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2   ON r2.r_regionkey = n2.n_regionkey
    WHERE ps2.ps_partkey = ps.ps_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
""",
    doc="TPC-H Q2 shape (min-cost supplier in region): the correlated "
    "scalar-min subquery de-correlated into a per-part MIN aggregate "
    "rejoined on (partkey, supplycost) equality. nation/region are "
    "broadcast; only the partsupp derivation shuffles. Order chain "
    "ends at (s_name, p_partkey) — unique, so the LIMIT is stable. "
    "supplycost is MIN of an exact double division: no summation, "
    "bit-identical cross-engine.",
    tags=("tpch", "join"),
)
def q2_min_cost_supplier(spark, sf_dir):
    ps = _partsupp(spark, sf_dir)
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 40) & F.col("p_name").like("%bolt%")
    )
    # regional partsupp: supplier->nation->region are broadcast dims
    regional = (
        ps.join(F.broadcast(sup), ps.ps_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
    )
    # self-join on derived lineage: rename the agg side's key so the
    # analyzer can't confuse the two ps_partkey attributes
    min_cost = regional.groupBy(
        F.col("ps_partkey").alias("mc_partkey")
    ).agg(F.min("ps_supplycost").alias("min_cost"))
    return (
        regional.join(
            min_cost,
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .join(F.broadcast(part), regional.ps_partkey == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "ps_supplycost"
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@register(
    "q9_product_profit",
    oracle=f"""
WITH {_PS_CTE}
SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount) - ps.ps_supplycost * l.l_quantity')} AS sum_profit
FROM lineitem l
JOIN ps         ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY nation, o_year
""",
    doc="TPC-H Q9 shape (product-type profit): 5-way join fanning a "
    "fact scan against the derived partsupp (shuffle on composite "
    "key) plus three broadcast dims, then an exact-decimal profit "
    "aggregate by (nation, year). The p_name filter pushes to the "
    "part scan and semi-prunes lineitem via the partkey join.",
    tags=("tpch", "join", "agg"),
)
def q9_product_profit(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    ps = _partsupp(spark, sf_dir)
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    joined = (
        li.join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").alias("o_year"),
    ).agg(dsum(amount).alias("sum_profit"))


@register(
    "q11_important_stock",
    oracle=f"""
WITH {_PS_CTE},
national AS (
  SELECT ps.ps_partkey, ps.ps_supplycost * ps.ps_availqty AS v
  FROM ps JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  WHERE s.s_nationkey < 5
)
SELECT ps_partkey, {dsum_sql('v')} AS value
FROM national
GROUP BY ps_partkey
HAVING {dsum_sql('v')} > (
  SELECT {dsum_sql('v')} * 0.001 FROM national
)
""",
    doc="TPC-H Q11 shape (important stock): per-part inventory value "
    "within a national supplier group, kept only when it exceeds a "
    "fraction of the group total — a 1-row global aggregate broadcast "
    "back as a HAVING threshold. Both sides of the comparison go "
    "through the exact-decimal sum, so the > cut is deterministic "
    "cross-engine even for parts sitting near the threshold.",
    tags=("tpch", "agg"),
)
def q11_important_stock(spark, sf_dir):
    ps = _partsupp(spark, sf_dir)
    sup = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    national = ps.join(F.broadcast(sup), ps.ps_suppkey == sup.s_suppkey).select(
        "ps_partkey",
        (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
    )
    per_part = national.groupBy("ps_partkey").agg(dsum("v").alias("value"))
    total = national.agg((dsum("v") * 0.001).alias("threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("ps_partkey", "value")
    )


@register(
    "q20_excess_stock_suppliers",
    oracle=f"""
WITH {_PS_CTE},
recent AS (
  SELECT l_partkey, l_suppkey,
         round(sum((l_quantity)::DECIMAL(30,10)), 4)::DOUBLE AS qty_1996
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
)
SELECT DISTINCT s.s_suppkey, s.s_name, s.s_acctbal
FROM ps
JOIN recent r ON r.l_partkey = ps.ps_partkey AND r.l_suppkey = ps.ps_suppkey
JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
WHERE ps.ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
  AND s.s_nationkey < 10
  AND ps.ps_qty > 0.5 * r.qty_1996
""",
    doc="TPC-H Q20 shape (excess-stock suppliers): the correlated "
    "half-of-year-volume subquery de-correlated into a windowed "
    "(partkey, suppkey) aggregate joined back to the derived "
    "partsupp; parts semi-filtered by name prefix (broadcast "
    "semi join), suppliers by nation group. Both quantity sums use "
    "the exact-decimal path so the 0.5x comparison can't flap. "
    "DISTINCT collapses a supplier qualifying via several parts.",
    tags=("tpch", "join"),
)
def q20_excess_stock_suppliers(spark, sf_dir):
    ps = _partsupp(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    recent = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity").alias("qty_1996"))
    )
    small = load(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    sup = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 10)
    return (
        ps.join(
            recent,
            (ps.ps_partkey == recent.l_partkey)
            & (ps.ps_suppkey == recent.l_suppkey),
        )
        .join(F.broadcast(small), ps.ps_partkey == small.p_partkey, "left_semi")
        .join(F.broadcast(sup), ps.ps_suppkey == sup.s_suppkey)
        .filter(F.col("ps_qty") > 0.5 * F.col("qty_1996"))
        .select("s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )
