"""Set operations (SURVEY.md §2.7), sorts/limits (§2.6) and the four
window patterns (§2.8) the reference implements with numpy tricks.

The work-queue allocation (O3/U2/U4, ref: src/az_proc.py:408-445) is the
reference's closest thing to state: allocate = head-N of a deterministic
order; remaining = anti join; invariant allocated + remaining == total.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.exact import dsum, dsum_over, dsum_over_sql, dsum_sql
from ..registry import register
from ..sources.catalog import load

ALLOC_N = 100


@register(
    "u1_union_append",
    oracle="""
SELECT o_orderkey, 'old' AS src FROM orders WHERE o_orderdate <  TIMESTAMP '1998-01-01'
UNION ALL
SELECT o_orderkey, 'new' AS src FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
""",
    doc="U1 union/append (ref: src/az_proc.py:281-288,345 pd.concat / "
    "np.vstack) as unionByName.",
    tags=("setop",),
)
def u1_union_append(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    old = orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", F.lit("old").alias("src")
    )
    new = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", F.lit("new").alias("src")
    )
    return old.unionByName(new)


@register(
    "u2_except_difference",
    oracle="""
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
    doc="U2 except/difference (ref: src/az_proc.py:437-438 remaining = "
    "unlabeled - allocated).",
    tags=("setop",),
)
def u2_except_difference(spark, sf_dir):
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.select("c_custkey").exceptAll(urgent).distinct()


@register(
    "u3_intersect3",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
    doc="U3 3-way intersection (ref: src/form_calcs.py:1069-1084 "
    "set.intersection chain).",
    tags=("setop",),
)
def u3_intersect3(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b).intersect(c)


@register(
    "o3_allocation_head",
    oracle=f"""
SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT {ALLOC_N}
""",
    doc="O3 head-N allocation slice (ref: src/az_proc.py:417-421): "
    "deterministic order + limit. Order-stability comes from the explicit "
    "sort key, as the SURVEY requires.",
    tags=("limit",),
)
def o3_allocation_head(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return orders.orderBy("o_orderkey").limit(ALLOC_N).select("o_orderkey")


@register(
    "u4_integrity_check",
    oracle=f"""
WITH alloc AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT {ALLOC_N}),
rem AS (SELECT o_orderkey FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM alloc))
SELECT (SELECT count(*) FROM alloc)::BIGINT AS n_allocated,
       (SELECT count(*) FROM rem)::BIGINT   AS n_remaining,
       (SELECT count(*) FROM orders)::BIGINT AS n_total,
       ((SELECT count(*) FROM alloc) + (SELECT count(*) FROM rem)
         = (SELECT count(*) FROM orders)) AS ok
""",
    doc="U4 integrity assertion (ref: src/az_proc.py:442-445 "
    "allocated + remaining == unlabeled): limit slice + anti join + "
    "declarative count check.",
    tags=("setop", "limit"),
)
def u4_integrity_check(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    alloc = orders.orderBy("o_orderkey").limit(ALLOC_N).select("o_orderkey")
    rem = orders.join(alloc, "o_orderkey", "left_anti")
    na = alloc.agg(F.count(F.lit(1)).alias("n_allocated"))
    nr = rem.agg(F.count(F.lit(1)).alias("n_remaining"))
    nt = orders.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        na.crossJoin(nr)
        .crossJoin(nt)
        .withColumn("ok", F.col("n_allocated") + F.col("n_remaining") == F.col("n_total"))
    )


@register(
    "w_topk_per_group",
    oracle="""
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn <= 3
""",
    doc="Window pattern: top-K per group (SURVEY §2.8; subsumes the "
    "reference's pick-first patterns A6/J5).",
    tags=("window",),
)
def w_topk_per_group(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
    )


@register(
    "w_percent_of_total",
    oracle=f"""
WITH rev AS (
  SELECT n_name, {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey  = c_custkey
                JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, revenue,
       revenue / {dsum_over_sql('revenue', '')} AS pct_of_total
FROM rev
""",
    doc="Window pattern: percent-of-total (SURVEY §2.8; ref A3's "
    "normalize=True): sum().over(Window.partitionBy()). Shares are ratios "
    "of exact-decimal sums, so doubles are bit-identical across engines.",
    tags=("window", "bench"),
)
def w_percent_of_total(spark, sf_dir):
    from ..sources.parallel import scan_floor

    # r14: scan-parallelism floor on the fact side (guide §2.5 input
    # skew; same per-call-site A/B discipline as a8 — see
    # sources/parallel.py). The fused probe+decimal partial agg
    # otherwise runs inside the one-row-group lineitem scan on a
    # single core. Interleaved min-of-6 A/B at sf0.1: 1.124 s without
    # -> 0.643 s with the floor. No-op on healthy row-group layouts.
    li = scan_floor(spark, sf_dir, "lineitem", load(spark, sf_dir, "lineitem"))
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    # r14: collapse the 3-probe chain into ONE probe. The old shape had
    # lineitem probe three broadcast tables in sequence (orders 150k,
    # customer 15k, nation 25 at sf0.1); pre-joining the dims into an
    # o_orderkey -> n_name map moves the two cheap probes onto the
    # 150k-row orders side, so the 600k-row fact pays a single hash
    # lookup per row (guide §2.3 "shuffle keys and metadata instead of
    # payloads" applied to probes). At 100 TB the same shape saves a
    # fact shuffle outright: lineitem joins once on l_orderkey instead
    # of once on l_orderkey and again on o_custkey. Join reordering
    # only — the joined multiset, group keys and dsum are unchanged.
    cust_nation = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "n_name")
    omap = orders.join(
        F.broadcast(cust_nation), orders.o_custkey == cust_nation.c_custkey
    ).select("o_orderkey", "n_name")
    rev = (
        li.join(F.broadcast(omap), li.l_orderkey == omap.o_orderkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    return rev.withColumn(
        "pct_of_total",
        F.col("revenue") / dsum_over("revenue", Window.partitionBy()),
    )


@register(
    "w_running_sum",
    oracle=f"""
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       {dsum_over_sql('o_totalprice',
                      'PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING')}
         AS running_spend
FROM orders
""",
    doc="Window pattern: running total per key in event order (O2 analog).",
    tags=("window",),
)
def w_running_sum(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        dsum_over("o_totalprice", w).alias("running_spend"),
    )


@register(
    "w_rank_dense",
    oracle="""
SELECT p_brand, p_partkey, p_size,
       rank()       OVER (PARTITION BY p_brand ORDER BY p_size)::BIGINT AS size_rank,
       dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size)::BIGINT AS size_dense_rank
FROM part
""",
    doc="Window pattern: rank/dense_rank with ties (SURVEY §2.8).",
    tags=("window",),
)
def w_rank_dense(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_size")
    return part.select(
        "p_brand",
        "p_partkey",
        "p_size",
        F.rank().over(w).cast("long").alias("size_rank"),
        F.dense_rank().over(w).cast("long").alias("size_dense_rank"),
    )


@register(
    "w_moving_sum_7d",
    oracle="""
WITH daily AS (
  SELECT user_id, ts::DATE AS day,
         round(sum((value)::DECIMAL(30,10)), 4)::DOUBLE AS day_value,
         round(sum(sum((value)::DECIMAL(30,10)))
               OVER (PARTITION BY user_id ORDER BY epoch(ts::DATE) // 86400
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4)::DOUBLE
           AS sum_7d
  FROM events
  GROUP BY user_id, ts::DATE
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, day_value, sum_7d
FROM daily
""",
    doc="Sliding 7-day windowed sum per user: daily pre-aggregation, "
    "then a RANGE frame over day numbers — the range frame sees real "
    "calendar gaps (unlike ROWS 6 PRECEDING). One shuffle on user_id "
    "shared by the groupBy and the window. Decimal-exact inner and "
    "outer sums keep both engines bit-identical.",
    tags=("window", "events"),
)
def w_moving_sum_7d(spark, sf_dir):
    from ..functions.exact import DEC

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast(DEC)).alias("day_dec"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_date("day"))
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("day_dec"), 4).cast("double").alias("day_value"),
        F.round(F.sum("day_dec").over(w), 4).cast("double").alias("sum_7d"),
    )


@register(
    "w_percentile_rank",
    oracle="""
SELECT o_orderkey, o_orderstatus,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       ntile(4) OVER w::BIGINT AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
    doc="Distribution-position window functions: percent_rank, "
    "cume_dist, ntile over a unique-keyed order (rank arithmetic on "
    "ints -> identical doubles in both engines).",
    tags=("window",),
)
def w_percentile_rank(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "u5_bag_setops",
    # Bag (multiset) semantics: EXCEPT ALL keeps multiplicity
    # differences and INTERSECT ALL keeps min(multiplicity) — the
    # other half of the set-op family next to the DISTINCT forms
    # (u2/u3). Exercised on a projection with heavy duplication so
    # the bag and set answers genuinely differ; the output re-groups
    # to (row, multiplicity) pairs, which is the canonical test for
    # ALL semantics.
    oracle="""
WITH ex AS (
  SELECT o_orderpriority, o_orderstatus FROM orders
  EXCEPT ALL
  SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_custkey % 3 = 0
),
ia AS (
  SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_custkey % 2 = 0
  INTERSECT ALL
  SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_custkey % 3 = 0
)
SELECT 'except_all' AS op, o_orderpriority, o_orderstatus,
       count(*)::BIGINT AS multiplicity
FROM ex GROUP BY 2, 3
UNION ALL
SELECT 'intersect_all', o_orderpriority, o_orderstatus, count(*)::BIGINT
FROM ia GROUP BY 2, 3
""",
    doc="EXCEPT ALL / INTERSECT ALL with multiplicities re-grouped to "
    "(row, count). Spark plans both as hash aggregates computing "
    "per-key count differences / minima — one shuffle each on the "
    "projected key, no sort, bag semantics without materializing "
    "duplicate rows through the exchange.",
    tags=("setop", "extension"),
)
def u5_bag_setops(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    proj = orders.select("o_orderpriority", "o_orderstatus")
    ex = proj.exceptAll(proj.filter(F.col("o_custkey") % 3 == 0).select(
        "o_orderpriority", "o_orderstatus"
    ))
    ia = orders.filter(F.col("o_custkey") % 2 == 0).select(
        "o_orderpriority", "o_orderstatus"
    ).intersectAll(
        orders.filter(F.col("o_custkey") % 3 == 0).select(
            "o_orderpriority", "o_orderstatus"
        )
    )
    exg = ex.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("multiplicity")
    ).select(F.lit("except_all").alias("op"), "*")
    iag = ia.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("multiplicity")
    ).select(F.lit("intersect_all").alias("op"), "*")
    return exg.unionByName(iag)


@register(
    "w_ntile_quartiles",
    oracle="""
WITH t AS (
  SELECT c_mktsegment, c_acctbal, c_custkey,
         ntile(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT c_mktsegment, quartile::INT AS quartile,
       count(*)::BIGINT AS n,
       min(c_acctbal) AS lo, max(c_acctbal) AS hi
FROM t GROUP BY 1, 2
""",
    doc="ntile(4) quartile assignment per market segment (unique "
    "(acctbal, custkey) order chain so bucket boundaries are "
    "deterministic), reduced to per-(segment, quartile) census with "
    "value bounds — the windowed bucketing that feeds equal-count "
    "binning and band pricing. Window partitions by segment; the "
    "aggregate shares the partitioning.",
    tags=("window", "extension"),
)
def w_ntile_quartiles(spark, sf_dir):
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_mktsegment", F.col("quartile").cast("int").alias("quartile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_acctbal").alias("lo"),
            F.max("c_acctbal").alias("hi"),
        )
    )


@register(
    "u6_symmetric_difference",
    oracle="""
WITH a AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderdate < DATE '1997-01-01'),
b AS (SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_totalprice >= 100000),
only_a AS (SELECT o_orderkey FROM a EXCEPT SELECT o_orderkey FROM b),
only_b AS (SELECT o_orderkey FROM b EXCEPT SELECT o_orderkey FROM a)
SELECT 'only_a' AS side, count(*)::BIGINT AS n_keys,
       min(o_orderkey)::BIGINT AS min_key, max(o_orderkey)::BIGINT AS max_key
FROM only_a JOIN a USING (o_orderkey)
UNION ALL
SELECT 'only_b', count(*)::BIGINT, min(o_orderkey)::BIGINT, max(o_orderkey)::BIGINT
FROM only_b JOIN b USING (o_orderkey)
""",
    doc="Symmetric difference census between two overlapping order "
    "snapshots (early orders vs high-value orders): keys in exactly "
    "one side, via the two anti-join halves — the reconciliation "
    "primitive completing the set-ops family (U1 union, U2 except, "
    "U3 intersect, U5 bag forms). Both halves are key-partitioned "
    "anti joins; no full-row comparison needed for a key census.",
    tags=("setops", "extension"),
)
def u6_symmetric_difference(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")).select(
        "o_orderkey"
    )
    b = orders.filter(F.col("o_totalprice") >= 100000).select("o_orderkey")
    only_a = a.join(b, "o_orderkey", "left_anti")
    only_b = b.join(a, "o_orderkey", "left_anti")

    def census(df, side):
        return df.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        ).select(F.lit(side).alias("side"), "n_keys", "min_key", "max_key")

    return census(only_a, "only_a").unionByName(census(only_b, "only_b"))


@register(
    "a_rollup_grouping_id",
    # ROLLUP + GROUPING_ID — the remaining grouping-sets face next to
    # a_grouping_sets and the crosstab margins: hierarchical
    # (year -> year,status -> grand total) subtotals in one pass, with
    # the machine-readable grouping bitmask (the column BI layers key
    # on to tell a subtotal row from a real NULL). One aggregation;
    # the rollup adds 1 + |years| + 1 rows to the exact cells, never a
    # second scan. Quantities are integral, sums exact BIGINT.
    oracle="""
SELECT coalesce(strftime(date_trunc('year', o_orderdate), '%Y'), 'ALL') AS order_year,
       coalesce(o_orderstatus, 'ALL') AS status,
       grouping(date_trunc('year', o_orderdate), o_orderstatus)::BIGINT
         AS grouping_id,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice::DECIMAL(30,10)), 4)::DOUBLE AS total_price
FROM orders
GROUP BY ROLLUP (date_trunc('year', o_orderdate), o_orderstatus)
""",
    doc="ROLLUP subtotals over (order year, status) with GROUPING_ID: "
    "hierarchical margins and the grand total from one aggregation "
    "pass, the bitmask distinguishing subtotal rows from genuine NULL "
    "keys — completes the grouping-sets family (CUBE, crosstab "
    "margins, ROLLUP).",
    tags=("aggregates", "extension"),
)
def a_rollup_grouping_id(spark, sf_dir):
    from ..functions.exact import dsum

    orders = load(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy").alias("yr"),
        "o_orderstatus",
        "o_totalprice",
    )
    return (
        orders.rollup("yr", "o_orderstatus")
        .agg(
            F.grouping_id().cast("long").alias("grouping_id"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("yr", F.lit("ALL")).alias("order_year"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "grouping_id",
            "n_orders",
            "total_price",
        )
    )
