"""Event-stream analytics on the ``events`` table — the batch faces of
the engine's streaming surface (SURVEY.md §2.9: the reference is
batch-only; these are the standard event-time operators a work-queue /
event pipeline needs, with Structured Streaming variants in
``ast_data_pipeline_spark/streaming``).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ast_data_pipeline_spark.lineage import lineage_cut_lazy

from ..functions.exact import davg, davg_sql, dsum, dsum_over_sql, dsum_sql
from ..registry import register
from ..sources.catalog import load

SESSION_GAP_MIN = 30


@register(
    "e_tumbling_window_agg",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*)::BIGINT AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="Tumbling event-time window aggregate (batch face of the "
    "Structured Streaming windowed agg; window start == hour truncation).",
    tags=("events", "window", "bench"),
)
def e_tumbling_window_agg(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "e_sessionize",
    oracle=f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT
                   > {SESSION_GAP_MIN} * 60
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
  FROM g
)
SELECT user_id, session_id,
       count(*)::BIGINT AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
FROM s GROUP BY user_id, session_id
""",
    doc="Sessionization: lag(ts) gap > 30min starts a session; session id "
    "= running sum of boundaries. One shuffle on user_id; the window and "
    "the groupBy share the partitioning.",
    tags=("events", "window", "bench"),
)
def e_sessionize(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
    )


@register(
    "e_topk_users_by_value",
    oracle=f"""
SELECT user_id, total_value, n_events, rank
FROM (
  SELECT user_id,
         {dsum_sql('value')} AS total_value,
         count(*)::BIGINT AS n_events,
         row_number() OVER (ORDER BY {dsum_sql('value')} DESC, user_id)::INT AS rank
  FROM events GROUP BY user_id
)
WHERE rank <= 25
""",
    doc="Top-K entities by aggregate over the event stream — partial "
    "agg + a single top-k (TakeOrderedAndProject), no global sort.",
    tags=("events", "window"),
)
def e_topk_users_by_value(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        dsum("value").alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # orderBy + limit compiles to TakeOrderedAndProject (per-partition
    # top-25 heaps merged on the driver side of the exchange) — a
    # global rank window here would drag every user aggregate through
    # ONE reducer at scale. The rank window then runs over the 25
    # surviving rows only.
    top = agg.orderBy(F.col("total_value").desc(), "user_id").limit(25)
    w = Window.orderBy(F.col("total_value").desc(), "user_id")
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


@register(
    "p_date_functions",
    oracle="""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       year(o_orderdate)::INT AS y,
       month(o_orderdate)::INT AS m,
       day(o_orderdate)::INT AS d,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
       datediff('day', TIMESTAMP '1995-01-01', o_orderdate)::INT AS days_since_epoch0
FROM orders
""",
    doc="Date/time function surface: extraction, truncation, interval "
    "arithmetic, datediff — engine-portable date semantics.",
    tags=("projection", "dates"),
)
def p_date_functions(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_date"),
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(d.cast("date"), 90), "yyyy-MM-dd").alias("due_date"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch0"
        ),
    )


@register(
    "e_json_props_extract",
    oracle=f"""
SELECT event_type,
       count(*)::BIGINT AS n,
       sum(json_extract_string(props, '$.k')::INT)::BIGINT AS sum_k,
       {davg_sql("json_extract_string(props, '$.k')::INT")} AS avg_k
FROM events
GROUP BY event_type
""",
    doc="Semi-structured props extraction (get_json_object) + aggregate — "
    "the engine's JSON column face.",
    tags=("events",),
)
def e_json_props_extract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            davg("k").alias("avg_k"),
        )
    )


@register(
    "e_funnel_stages",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1
)
SELECT s1.user_id,
       (1 + (s2.user_id IS NOT NULL)::INT + (s3.user_id IS NOT NULL)::INT)::BIGINT AS stage,
       strftime(s1.t1, '%Y-%m-%d %H:%M:%S') AS signup_ts,
       strftime(s2.t2, '%Y-%m-%d %H:%M:%S') AS first_click_ts,
       strftime(s3.t3, '%Y-%m-%d %H:%M:%S') AS first_purchase_ts
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
""",
    doc="Ordered funnel (signup -> click -> purchase): stage thresholds "
    "computed as nested conditional-min WINDOW functions over ONE "
    "user_id partition — a single shuffle, vs the oracle's 3-join "
    "formulation. The standard sequential-conversion analytics shape.",
    tags=("events", "window", "bench"),
)
def e_funnel_stages(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    with_t1 = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")), F.col("ts"))
    ).over(w)
    with_t2 = with_t1.withColumn("t2", t2)
    t3 = F.min(
        F.when((F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t2")), F.col("ts"))
    ).over(w)
    per_user = (
        with_t2.withColumn("t3", t3)
        .filter(F.col("t1").isNotNull())
        .groupBy("user_id")
        .agg(F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3"))
    )
    stage = (
        F.lit(1)
        + F.col("t2").isNotNull().cast("int")
        + F.col("t3").isNotNull().cast("int")
    ).cast("long")
    return per_user.select(
        "user_id",
        stage.alias("stage"),
        F.date_format("t1", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
        F.date_format("t2", "yyyy-MM-dd HH:mm:ss").alias("first_click_ts"),
        F.date_format("t3", "yyyy-MM-dd HH:mm:ss").alias("first_purchase_ts"),
    )


FUNNEL_WINDOW_DAYS = 3


@register(
    "e_funnel_conversion",
    # Time-WINDOWED funnel (the product-analytics convention funnels
    # actually use): a click only converts a signup if it lands within
    # 3 days of it, a purchase within 3 days of that click.
    # e_funnel_stages is the unbounded ordered funnel; this adds the
    # conversion deadline and reports the aggregate funnel — stage
    # populations, step rates, end-to-end rate, mean hours-to-convert
    # (exact-decimal mean over integer second diffs).
    oracle=f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s1.t1
    AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
  GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
    AND e.ts <= s2.t2 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
  GROUP BY 1
),
j AS (
  SELECT s1.user_id, s1.t1, s2.t2, s3.t3
  FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
)
SELECT count(t1)::BIGINT AS n_signup,
       count(t2)::BIGINT AS n_click_in_window,
       count(t3)::BIGINT AS n_purchase_in_window,
       count(t2)::DOUBLE / count(t1) AS click_rate,
       count(t3)::DOUBLE / count(t2) AS purchase_rate,
       count(t3)::DOUBLE / count(t1) AS end_to_end_rate,
       {davg_sql("(date_diff('second', t1, t2)::DOUBLE / 3600.0)")}
         AS avg_hours_to_click,
       {davg_sql("(date_diff('second', t2, t3)::DOUBLE / 3600.0)")}
         AS avg_hours_to_purchase
FROM j
""",
    doc=f"Time-windowed conversion funnel (signup -> click -> purchase, "
    f"each step within {FUNNEL_WINDOW_DAYS} days of the previous): "
    "stage populations, per-step and end-to-end conversion rates, "
    "and the exact-decimal mean hours-to-convert per step. Same "
    "single user_id-partitioned window pass as e_funnel_stages (the "
    "deadline is one more predicate inside the conditional min), then "
    "a scalar aggregate — one shuffle total vs the oracle's 3-join "
    "formulation.",
    tags=("events", "window", "extension"),
)
def e_funnel_conversion(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    iv = F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAY")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    with_t1 = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") >= F.col("t1"))
            & (F.col("ts") <= F.col("t1") + iv),
            F.col("ts"),
        )
    ).over(w)
    with_t2 = with_t1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("t2"))
            & (F.col("ts") <= F.col("t2") + iv),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        with_t2.withColumn("t3", t3)
        .filter(F.col("t1").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max("t1").alias("t1"),
            F.max("t2").alias("t2"),
            F.max("t3").alias("t3"),
        )
    )
    h12 = (F.col("t2").cast("long") - F.col("t1").cast("long")).cast(
        "double"
    ) / F.lit(3600.0)
    h23 = (F.col("t3").cast("long") - F.col("t2").cast("long")).cast(
        "double"
    ) / F.lit(3600.0)
    return per_user.agg(
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_click_in_window"),
        F.count("t3").alias("n_purchase_in_window"),
        (F.count("t2").cast("double") / F.count("t1")).alias("click_rate"),
        (F.count("t3").cast("double") / F.count("t2")).alias("purchase_rate"),
        (F.count("t3").cast("double") / F.count("t1")).alias("end_to_end_rate"),
        davg(h12).alias("avg_hours_to_click"),
        davg(h23).alias("avg_hours_to_purchase"),
    )


@register(
    "e_ab_test_analysis",
    # The experimentation primitive: users split 50/50 into variants by
    # a deterministic md5-byte coin (the production assignment rule —
    # sticky, uniform, reproducible, no coordination), conversion =
    # exact-decimal purchase total above a fixed spend threshold
    # (every user purchases in this corpus, so bare "any purchase"
    # would be degenerate), and the two-proportion pooled z-test decides
    # significance. Every arithmetic step is IEEE +,-,*,/,sqrt on
    # integer-derived doubles in the identical order, so both engines
    # produce the bit-identical z.
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN ('0x' || substr(md5('ab|' || user_id::VARCHAR), 1, 2))::INT < 128
              THEN 'A' ELSE 'B' END AS variant,
         CASE WHEN round(sum(CASE WHEN event_type = 'purchase'
                                  THEN value ELSE 0.0 END::DECIMAL(30,10)), 4)::DOUBLE
                   > 600.0::DOUBLE
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY 1
),
v AS (
  SELECT variant, count(*)::BIGINT AS n, sum(converted)::BIGINT AS c
  FROM per_user GROUP BY 1
),
w AS (
  SELECT
    max(CASE WHEN variant = 'A' THEN n END) AS n_a,
    max(CASE WHEN variant = 'B' THEN n END) AS n_b,
    max(CASE WHEN variant = 'A' THEN c END) AS c_a,
    max(CASE WHEN variant = 'B' THEN c END) AS c_b
  FROM v
)
SELECT n_a, n_b, c_a AS conv_a, c_b AS conv_b,
       c_a::DOUBLE / n_a AS rate_a,
       c_b::DOUBLE / n_b AS rate_b,
       c_a::DOUBLE / n_a - c_b::DOUBLE / n_b AS abs_lift,
       -- degenerate pools (every user converted, or none) have zero
       -- variance: z undefined, NULL identically in both engines
       CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b
            THEN (c_a::DOUBLE / n_a - c_b::DOUBLE / n_b)
                 / sqrt(((c_a + c_b)::DOUBLE / (n_a + n_b))
                        * (1.0::DOUBLE - (c_a + c_b)::DOUBLE / (n_a + n_b))
                        * (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b))
            ELSE NULL END AS z_score,
       CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b
            THEN abs((c_a::DOUBLE / n_a - c_b::DOUBLE / n_b)
                     / sqrt(((c_a + c_b)::DOUBLE / (n_a + n_b))
                            * (1.0::DOUBLE - (c_a + c_b)::DOUBLE / (n_a + n_b))
                            * (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b)))
                 > 1.96::DOUBLE
            ELSE NULL END AS significant
FROM w
""",
    doc="A/B test readout: deterministic md5-byte variant assignment "
    "(sticky and uniform — the rule experiment platforms actually "
    "ship), per-user conversion, and the two-proportion pooled "
    "z-test with a 1.96 significance flag. One user-keyed aggregate "
    "then a 2-row combine; the z arithmetic is division/sqrt on "
    "integer counts, bit-identical across engines.",
    tags=("events", "stats", "extension"),
)
def e_ab_test_analysis(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    variant = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))), 1, 2
            ),
            16,
            10,
        ).cast("int")
        < 128,
        "A",
    ).otherwise("B")
    total = dsum(
        F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
    )
    per_user = ev.groupBy("user_id").agg(
        F.when(total > F.lit(600.0), 1).otherwise(0).alias("converted")
    ).withColumn("variant", variant)
    v = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("c")
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "A", F.col("c"))).alias("c_a"),
        F.max(F.when(F.col("variant") == "B", F.col("c"))).alias("c_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    ca, cb = F.col("c_a"), F.col("c_b")
    rate_a = ca.cast("double") / na
    rate_b = cb.cast("double") / nb
    pool = (ca + cb).cast("double") / (na + nb)
    # degenerate pools (all converted / none converted) have zero
    # variance: z undefined — guard BEFORE dividing (ANSI raises on
    # x / 0.0), NULL identically in both engines
    nondegenerate = (ca + cb > 0) & (ca + cb < na + nb)
    z = F.when(
        nondegenerate,
        (rate_a - rate_b)
        / F.sqrt(
            pool
            * (F.lit(1.0) - pool)
            * (F.lit(1.0) / na + F.lit(1.0) / nb)
        ),
    )
    return w.select(
        "n_a",
        "n_b",
        ca.alias("conv_a"),
        cb.alias("conv_b"),
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        (rate_a - rate_b).alias("abs_lift"),
        z.alias("z_score"),
        F.when(nondegenerate, F.abs(z) > F.lit(1.96)).alias("significant"),
    )


@register(
    "e_activity_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events
),
grp AS (
  SELECT user_id, day,
         day - (row_number() OVER (PARTITION BY user_id ORDER BY day))::INT AS anchor
  FROM days
)
SELECT user_id,
       strftime(min(day), '%Y-%m-%d') AS island_start,
       strftime(max(day), '%Y-%m-%d') AS island_end,
       count(*)::BIGINT AS n_days
FROM grp GROUP BY user_id, anchor
""",
    doc="Gaps-and-islands: consecutive active days collapse to one "
    "island via the day - row_number() anchor trick; one shuffle on "
    "user_id shared by the window and the groupBy.",
    tags=("events", "window"),
)
def e_activity_islands(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "anchor", F.date_sub("day", F.row_number().over(w))
    )
    return (
        grp.groupBy("user_id", "anchor")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("island_start"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("anchor")
    )


@register(
    "e_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY 1
)
SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
       (date_diff('day', f.cohort_week, date_trunc('week', e.ts)) / 7)::BIGINT AS week_offset,
       count(DISTINCT e.user_id)::BIGINT AS n_active
FROM events e JOIN firsts f USING (user_id)
GROUP BY f.cohort_week, week_offset
""",
    doc="Cohort retention matrix: users bucketed by first-seen week, "
    "activity counted per week offset. first-seen agg + re-join on "
    "user_id; both shuffles on the same key so AQE coalesces them.",
    tags=("events",),
)
def e_cohort_retention(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    joined = ev.join(firsts, "user_id")
    week_offset = (
        F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
    ).cast("long")
    return (
        joined.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            week_offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "e_scd2_intervals",
    oracle="""
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       coalesce(strftime(lead(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id),
                         '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS valid_to
FROM events
""",
    doc="SCD2-style validity intervals: each event opens a version "
    "closed by the user's next event (lead window; open tail -> "
    "sentinel high date). The warehouse changelog -> dimension shape, "
    "one shuffle on user_id.",
    tags=("events", "window"),
)
def e_scd2_intervals(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
    )


@register(
    "e_gap_fill_daily",
    oracle="""
WITH daily AS (
  SELECT user_id, ts::DATE AS day, count(*)::BIGINT AS n_events
  FROM events WHERE user_id % 50 = 0
  GROUP BY 1, 2
),
span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM span
)
SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
       coalesce(d.n_events, 0)::BIGINT AS n_events,
       (d.user_id IS NULL) AS gap_filled
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
""",
    doc="Time-series gap filling / calendar resample: each sampled "
    "user's daily event counts zero-filled over their own "
    "[first, last] activity span — the densification pass every "
    "downstream window/forecast needs (a RANGE frame sees gaps, a "
    "trained model does not). Plan: daily pre-agg (one user shuffle), "
    "per-user span agg on the SAME key, calendar grid via "
    "sequence()+explode (map-side — never a calendar cross join), "
    "left join back on the shared (user, day) key. Sampled to "
    "user_id % 50 = 0 to keep the contract row count bounded.",
    tags=("events", "extension"),
)
def e_gap_fill_daily(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.col("n_events").isNull().alias("gap_filled"),
        )
    )


@register(
    "e_event_paths",
    # Markov-style path mining: the frequency of every length-3
    # event-type sequence a user emits, ordered by event time. The
    # lead() chain is ordered by the unique (ts, event_id) key so both
    # engines walk identical sequences; output is pure strings/counts
    # (no float risk).
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e3
  FROM events
)
SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
       count(*)::BIGINT AS n_paths,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM seq
WHERE e3 IS NOT NULL
GROUP BY 1
""",
    doc="Event-sequence trigram mining (user journey paths): one "
    "shuffle on user_id for the lead windows, then an aggregate over "
    "at most |event_types|^3 path keys — the second exchange carries "
    "only (path, partial counts), so at 100 TB the reduce side is "
    "bounded by the type-cube cardinality, not the event count.",
    tags=("events", "window", "extension"),
)
def e_event_paths(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return seq.groupBy(
        F.concat_ws(" > ", "event_type", "e2", "e3").alias("path")
    ).agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "e_rolling_wau",
    # Rolling distinct counts (DAU / trailing-7-day WAU and their
    # stickiness ratio). COUNT DISTINCT over a sliding window does NOT
    # decompose into a running sum — the standard trick is to fan each
    # (day, user) activity fact out to the 7 target days it supports
    # and re-aggregate distinct per target day. Partial leading
    # windows report as-is; target days beyond the observed range drop
    # via the DAU join.
    oracle="""
WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
dau AS (SELECT day, count(*)::BIGINT AS dau FROM du GROUP BY 1),
w AS (
  SELECT du.day + o::INTEGER AS day, du.user_id
  FROM du, unnest(range(0, 7)) t(o)
),
wau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS wau FROM w GROUP BY 1)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       dau.dau::DOUBLE / wau.wau AS dau_wau_ratio
FROM dau JOIN wau ON dau.day = wau.day
""",
    doc="DAU / trailing-7-day WAU / stickiness per day. Plan: distinct "
    "(day, user) activity facts (one shuffle, the frame every rolling-"
    "distinct metric shares), a map-side 7-way offset fan-out "
    "(sequence+explode, no calendar join), and a distinct re-aggregate "
    "per target day. At 100 TB the fanned frame is 7x|active "
    "(day,user)| — linear, shuffled on the (day) key across far more "
    "partitions than days x users would ever skew; the ratio is one "
    "IEEE division of exact counts.",
    tags=("events", "extension"),
)
def e_rolling_wau(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    fan = du.select(
        "day", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    ).select(F.date_add("day", F.col("off")).alias("day"), "user_id")
    wau = fan.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("dau_wau_ratio"),
        )
    )


@register(
    "e_dow_seasonality",
    # Weekday seasonality profile: event counts and within-type share
    # per ISO day-of-week — the seasonality fingerprint that feeds
    # anomaly baselines. Integer counts; the share is one IEEE
    # division.
    oracle="""
WITH d AS (
  SELECT event_type, isodow(ts)::INT AS dow, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
t AS (SELECT event_type, sum(n)::BIGINT AS total FROM d GROUP BY 1)
SELECT d.event_type, d.dow, d.n,
       d.n::DOUBLE / t.total AS share
FROM d JOIN t ON d.event_type = t.event_type
""",
    doc="Day-of-week activity profile per event type (ISO weekday "
    "1-7): one (type, dow) aggregate, per-type totals reduced from "
    "the 35-row count table, broadcast join back for the share. "
    "Map-side partials absorb the fact volume.",
    tags=("events", "extension"),
)
def e_dow_seasonality(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("_dow_sun1")
    ).agg(F.count(F.lit(1)).alias("n"))
    # Spark dayofweek: Sunday=1..Saturday=7; ISO (DuckDB isodow):
    # Monday=1..Sunday=7 — convert explicitly
    d = d.select(
        "event_type",
        ((F.col("_dow_sun1") + 5) % 7 + 1).cast("int").alias("dow"),
        "n",
    )
    t = d.groupBy("event_type").agg(F.sum("n").alias("total"))
    return (
        d.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "dow",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("share"),
        )
    )


@register(
    "e_burst_detection",
    # Bot/burst screen: each user's maximum event count inside any
    # trailing 60-second window — a RANGE frame over integer epoch
    # seconds (the only exact frame spec; a ROWS frame cannot express
    # "last 60 seconds"). The argmax timestamp of the peak burst ties
    # to the earliest peak via the (burst DESC, ts, event_id) chain.
    oracle="""
WITH b AS (
  SELECT user_id, event_id, ts,
         count(*) OVER (PARTITION BY user_id
                        ORDER BY floor(epoch(ts))::BIGINT
                        RANGE BETWEEN 59 PRECEDING AND CURRENT ROW)
           ::BIGINT AS burst
  FROM events
),
r AS (
  SELECT user_id, burst, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY burst DESC, ts, event_id) AS rn
  FROM b
)
SELECT user_id, burst AS max_burst_60s,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS peak_ts
FROM r WHERE rn = 1
""",
    doc="Max trailing-60s event burst per user (rate-limit / bot "
    "screen): one user-key shuffle shared by the RANGE-frame count "
    "and the peak argmax window; integer epoch seconds keep the frame "
    "boundaries exact. Per-partition state is one user's events.",
    tags=("events", "window", "extension"),
)
def e_burst_detection(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-59, Window.currentRow)
    )
    b = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("burst"),
    )
    r = Window.partitionBy("user_id").orderBy(
        F.col("burst").desc(), "ts", "event_id"
    )
    return (
        b.withColumn("rn", F.row_number().over(r))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("burst").alias("max_burst_60s"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("peak_ts"),
        )
    )


@register(
    "e_interarrival_stats",
    # Inter-arrival time profile per event type: min / mean / max gap
    # between consecutive events of the same type, in integer epoch
    # seconds over the unique (ts, event_id) chain — the arrival-rate
    # fingerprint behind capacity planning and anomaly baselines.
    # Integer gaps; the mean goes through the exact-decimal average.
    oracle=f"""
WITH g AS (
  SELECT event_type,
         floor(epoch(ts))::BIGINT
           - lag(floor(epoch(ts))::BIGINT) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT event_type,
       count(gap)::BIGINT AS n_gaps,
       min(gap)::BIGINT AS min_gap_s,
       {davg_sql('gap::DOUBLE')} AS avg_gap_s,
       max(gap)::BIGINT AS max_gap_s
FROM g WHERE gap IS NOT NULL
GROUP BY event_type
""",
    doc="Per-type inter-arrival gap statistics: one event_type-key "
    "shuffle shared by the lag window and the aggregate. NOTE the "
    "deliberate scale trade: partitioning by a 5-value type column "
    "puts each type through one window task — correct here because "
    "the REDUCED payload (two longs per row) is what flows, and the "
    "production fix (two-level lag via per-bucket boundary exchange) "
    "is documented in SCALING.md's two-level family if types carry "
    "TB-scale rows.",
    tags=("events", "window", "extension"),
)
def e_interarrival_stats(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = F.col("ts").cast("long")
    g = ev.select(
        "event_type", (s - F.lag(s).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("gap").alias("n_gaps"),
        F.min("gap").alias("min_gap_s"),
        davg(F.col("gap").cast("double")).alias("avg_gap_s"),
        F.max("gap").alias("max_gap_s"),
    )


# Allowed lifecycle transitions (anything else is a violation; the
# first event of a user may be anything except 'purchase').
_VALID_NEXT = {
    "signup": ["click", "view", "error"],
    "view": ["view", "click", "error", "signup"],
    "click": ["view", "click", "purchase", "error", "signup"],
    "purchase": ["view", "click", "signup", "error"],
    "error": ["view", "click", "signup", "error"],
}


def _valid_case_sql() -> str:
    whens = "\n         ".join(
        f"WHEN prev = '{p}' AND event_type IN "
        "(" + ", ".join(f"'{n}'" for n in nxt) + ") THEN 0"
        for p, nxt in _VALID_NEXT.items()
    )
    return (
        "CASE WHEN prev IS NULL THEN"
        " (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)\n         "
        + whens
        + "\n         ELSE 1 END"
    )


@register(
    "e_transition_violations",
    # Event-sequence state-machine validation: count transitions per
    # user that violate the declared lifecycle rules (e.g. a purchase
    # with no preceding click, tracked via the lag chain). The
    # sequence-integrity audit an event pipeline runs before trusting
    # funnel metrics. Pure strings/integers over the unique
    # (ts, event_id) order — exact by construction.
    oracle=f"""
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
v AS (
  SELECT user_id, {_valid_case_sql()} AS bad
  FROM s
)
SELECT user_id,
       count(*)::BIGINT AS n_transitions,
       sum(bad)::BIGINT AS n_violations,
       (sum(bad) = 0) AS is_clean
FROM v GROUP BY user_id
""",
    doc="Per-user lifecycle-violation census: one user-key shuffle "
    "shared by the lag window and the aggregate; the transition table "
    "is a compiled CASE (codegen, no join). First event must not be a "
    "purchase; every other pair checks against the allowed-successor "
    "sets declared in _VALID_NEXT.",
    tags=("events", "quality", "extension"),
)
def e_transition_violations(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
    )
    bad = F.when(
        F.col("prev").isNull(),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0),
    )
    for p, nxt in _VALID_NEXT.items():
        bad = bad.when(
            (F.col("prev") == p) & F.col("event_type").isin(nxt), 0
        )
    bad = bad.otherwise(1)
    return (
        s.select("user_id", bad.alias("bad"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum("bad").cast("long").alias("n_violations"),
            (F.sum("bad") == 0).alias("is_clean"),
        )
    )


_RFM_ORACLE = f"""
WITH anchor AS (SELECT date_trunc('day', max(ts)) AS a FROM events),
per_user AS (
  SELECT user_id,
         date_diff('day', date_trunc('day', max(ts)), (SELECT a FROM anchor))::BIGINT
           AS recency_days,
         count(*)::BIGINT AS frequency,
         {dsum_sql('value')} AS monetary
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, recency_days, frequency, monetary,
         row_number() OVER (ORDER BY recency_days, user_id) AS rr,
         row_number() OVER (ORDER BY frequency, user_id)    AS rf,
         row_number() OVER (ORDER BY monetary, user_id)     AS rm,
         count(*) OVER () AS n
  FROM per_user
),
cuts AS (
  SELECT
    min(CASE WHEN rr = ((n - 1) * 1) // 4 + 1 THEN recency_days END)::DOUBLE AS r25,
    min(CASE WHEN rr = ((n - 1) * 2) // 4 + 1 THEN recency_days END)::DOUBLE AS r50,
    min(CASE WHEN rr = ((n - 1) * 3) // 4 + 1 THEN recency_days END)::DOUBLE AS r75,
    min(CASE WHEN rf = ((n - 1) * 1) // 4 + 1 THEN frequency END)::DOUBLE    AS f25,
    min(CASE WHEN rf = ((n - 1) * 2) // 4 + 1 THEN frequency END)::DOUBLE    AS f50,
    min(CASE WHEN rf = ((n - 1) * 3) // 4 + 1 THEN frequency END)::DOUBLE    AS f75,
    min(CASE WHEN rm = ((n - 1) * 1) // 4 + 1 THEN monetary END)::DOUBLE     AS m25,
    min(CASE WHEN rm = ((n - 1) * 2) // 4 + 1 THEN monetary END)::DOUBLE     AS m50,
    min(CASE WHEN rm = ((n - 1) * 3) // 4 + 1 THEN monetary END)::DOUBLE     AS m75
  FROM ranked
),
scored AS (
  SELECT p.user_id, p.recency_days, p.frequency, p.monetary,
         (4 - ((p.recency_days::DOUBLE > c.r25)::INT
             + (p.recency_days::DOUBLE > c.r50)::INT
             + (p.recency_days::DOUBLE > c.r75)::INT))::BIGINT AS r_score,
         (1 + (p.frequency::DOUBLE > c.f25)::INT
            + (p.frequency::DOUBLE > c.f50)::INT
            + (p.frequency::DOUBLE > c.f75)::INT)::BIGINT AS f_score,
         (1 + (p.monetary > c.m25)::INT
            + (p.monetary > c.m50)::INT
            + (p.monetary > c.m75)::INT)::BIGINT AS m_score
  FROM per_user p, cuts c
)
SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score,
       r_score::VARCHAR || '-' || f_score::VARCHAR || '-' || m_score::VARCHAR
         AS segment
FROM scored
"""


@register(
    "e_rfm_scores",
    oracle=_RFM_ORACLE,
    doc="RFM segmentation: per-user recency (whole days from the "
    "user's last event to the corpus anchor day), frequency, and "
    "exact-decimal monetary total, banded into quartiles by the "
    "rank-selected P25/P50/P75 cut VALUES (lower-element convention, "
    "(value, user_id) order chain) — ties share a score, which is the "
    "honest RFM semantics AND the scalable plan: the cuts come from "
    "the distributed rank-selection machinery (bucket counts locate "
    "the ranks; only the holding buckets sort, partitioned by metric) "
    "and the banding is a per-row broadcast CASE. No un-partitioned "
    "window anywhere — this replaced r6's three global ntile(4) "
    "sorts, the repo's last single-reducer WATCH item (VERDICT r6 "
    "#2). Scores orient so 4 = best (most recent / most frequent / "
    "highest spend).",
    tags=("events", "window", "extension"),
)
def e_rfm_scores(spark, sf_dir):
    from ..operators.quantiles import exact_group_quantiles

    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.date_trunc("day", F.max("ts")).alias("a"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("day", F.max("ts")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("value").alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.to_date("a"), F.to_date("last_day"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
        .transform(lineage_cut_lazy)  # consumed by cuts pass + band pass
    )
    # unpivot the three metrics (exactly representable as double) so ONE
    # rank-selection pass, partitioned by metric, finds all nine cuts
    long_form = per_user.select(
        "user_id",
        F.inline(
            F.array(
                F.struct(
                    F.lit("r").alias("metric"),
                    F.col("recency_days").cast("double").alias("val"),
                ),
                F.struct(
                    F.lit("f").alias("metric"),
                    F.col("frequency").cast("double").alias("val"),
                ),
                F.struct(
                    F.lit("m").alias("metric"),
                    F.col("monetary").alias("val"),
                ),
            )
        ),
    )
    cuts = exact_group_quantiles(
        long_form,
        "metric",
        "val",
        "user_id",
        [("c25", 1, 4), ("c50", 2, 4), ("c75", 3, 4)],
        F.floor(F.col("val")).cast("long"),
    )
    wide = cuts.groupBy().agg(
        *[
            F.max(F.when(F.col("metric") == m, F.col(f"c{q}"))).alias(f"{m}{q}")
            for m in ("r", "f", "m")
            for q in (25, 50, 75)
        ]
    )

    def band(col, prefix):
        return sum(
            F.when(col > F.col(f"{prefix}{q}"), 1).otherwise(0)
            for q in (25, 50, 75)
        )

    scored = per_user.crossJoin(F.broadcast(wide)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(4) - band(F.col("recency_days").cast("double"), "r"))
        .cast("long")
        .alias("r_score"),
        (F.lit(1) + band(F.col("frequency").cast("double"), "f"))
        .cast("long")
        .alias("f_score"),
        (F.lit(1) + band(F.col("monetary"), "m")).cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws("-", "r_score", "f_score", "m_score"),
    )


@register(
    "e_delta_agg_maintenance",
    # The oracle IS the full recompute over all events; the Spark side
    # produces the same rows by MERGING a pre-cutoff aggregate with a
    # delta-batch aggregate (full-outer on the key, decimal partial
    # sums added raw, ONE round at the end). Exact-decimal addition is
    # associative, so incremental == recompute bit-for-bit — the
    # property that makes incremental view maintenance safe to ship;
    # with float sums the two paths drift and a maintained view slowly
    # diverges from truth.
    oracle="""
WITH c AS (SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM events)
SELECT user_id,
       sum(CASE WHEN ts < cutoff THEN 1 ELSE 0 END)::BIGINT AS n_base,
       sum(CASE WHEN ts >= cutoff THEN 1 ELSE 0 END)::BIGINT AS n_delta,
       count(*)::BIGINT AS n_events,
       round(sum(value::DECIMAL(30,10)), 4)::DOUBLE AS total_value
FROM events, c
GROUP BY user_id
""",
    doc="Incremental view maintenance: the per-user aggregate is "
    "maintained by merging the standing pre-cutoff state with the "
    "last-7-days delta batch (full-outer join on the key; counts add; "
    "DECIMAL partial sums add raw and round once at the end) and must "
    "equal the full recompute — which is exactly what the oracle runs. "
    "At 100 TB this is the difference between re-reading the fact "
    "table per refresh and touching only the delta; exact decimal "
    "sums are what make the merged path bit-identical to recompute "
    "(float partial sums drift with aggregation order).",
    tags=("events", "extension"),
)
def e_delta_agg_maintenance(spark, sf_dir):
    from ..functions.exact import DEC, RSCALE

    ev = load(spark, sf_dir, "events")
    # planning-pass scalar (one timestamp to the driver) so both
    # branch filters stay literal and pushdown-able
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("c")
    ).collect()[0]["c"]
    base = ev.filter(F.col("ts") < F.lit(cutoff))
    delta = ev.filter(F.col("ts") >= F.lit(cutoff))
    b = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_base"),
        F.sum(F.col("value").cast(DEC)).alias("s_base"),
    )
    d = delta.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_delta"),
        F.sum(F.col("value").cast(DEC)).alias("s_delta"),
    )
    zero = F.lit(0).cast(DEC)
    return b.join(d, "user_id", "full_outer").select(
        "user_id",
        F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
        F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
        (F.coalesce("n_base", F.lit(0)) + F.coalesce("n_delta", F.lit(0)))
        .cast("long")
        .alias("n_events"),
        F.round(
            F.coalesce(F.col("s_base"), zero) + F.coalesce(F.col("s_delta"), zero),
            RSCALE,
        )
        .cast("double")
        .alias("total_value"),
    )


@register(
    "e_cohort_retention_matrix",
    oracle="""
WITH wk AS (
  SELECT user_id, floor(epoch(ts))::BIGINT // 604800 AS week FROM events
),
cohort AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1),
act AS (
  SELECT DISTINCT w.user_id, c.cohort_week,
         w.week - c.cohort_week AS week_offset
  FROM wk w JOIN cohort c USING (user_id)
),
sz AS (SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY 1)
SELECT a.cohort_week, a.week_offset, count(*)::BIGINT AS n_active,
       s.cohort_size::BIGINT AS cohort_size,
       count(*)::DOUBLE / s.cohort_size AS retention
FROM act a JOIN sz s USING (cohort_week)
GROUP BY a.cohort_week, a.week_offset, s.cohort_size
""",
    doc="Cohort retention matrix: users grouped by first-activity week "
    "(epoch-week integers — no calendar/timezone arithmetic to "
    "diverge), retention = share of the cohort active at each week "
    "offset. Two key-partitioned shuffles (per-user min week, then the "
    "distinct per-(user, offset) activity) + a tiny cohort-size join — "
    "the product-analytics staple, shaped so neither pass ever "
    "serializes through one reducer.",
    tags=("events", "extension"),
)
def e_cohort_retention_matrix(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", (F.col("ts").cast("long") / F.lit(604800)).cast("long").alias("week")
    )
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    act = (
        wk.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    sz = cohort.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sz), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
    )


@register(
    "e_attribution_last_touch",
    oracle="""
WITH conv AS (
  SELECT user_id, event_id AS conv_id, ts AS conv_ts, value
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, event_id, ts, event_type
  FROM events WHERE event_type IN ('click', 'view')
),
attributed AS (
  SELECT c.conv_id, c.value, t.event_type,
         row_number() OVER (
           PARTITION BY c.conv_id
           ORDER BY t.ts DESC, t.event_id DESC) AS rn
  FROM conv c JOIN touch t
    ON t.user_id = c.user_id
   AND t.ts <= c.conv_ts
   AND t.ts >= c.conv_ts - INTERVAL 3 DAY
)
SELECT event_type AS channel,
       count(*)::BIGINT AS n_conversions,
       round(sum(value::DECIMAL(30,10)), 4)::DOUBLE AS attributed_value
FROM attributed WHERE rn = 1
GROUP BY event_type
""",
    doc="Last-touch attribution: each purchase credits the most recent "
    "click/view touchpoint by the same user inside a 3-day lookback "
    "window — the marketing-analytics staple. The as-of pick is the "
    "(ts DESC, event_id DESC) rank chain (unique key: deterministic "
    "under ties); the conversion-touch join is user-partitioned with "
    "a bounded time band. Attributed revenue goes through the exact "
    "decimal path.",
    tags=("events", "window", "extension"),
)
def e_attribution_last_touch(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
        "value",
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    attributed = (
        conv.join(
            touch,
            (conv.user_id == touch.user_id)
            & (touch.ts <= conv.conv_ts)
            & (touch.ts >= conv.conv_ts - F.expr("INTERVAL 3 DAY")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return attributed.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).alias("n_conversions"),
        dsum("value").alias("attributed_value"),
    )


@register(
    "e_theilsen_trend",
    # Theil-Sen robust trend per event type: the MEDIAN of all pairwise
    # day-to-day slopes — up to ~29% of the points can be corrupted
    # before the estimate moves (OLS breaks on one bad day). Daily
    # totals go through the exact-decimal sum, so every pairwise slope
    # is one subtraction + one division on identical doubles; the
    # median picks ranked slopes by a unique (slope, day_i, day_j)
    # chain and averages the two middles (one add + one halving —
    # exact). The pair join runs on the (type, day) AGGREGATE (|days|^2
    # pairs per type over a 30-row frame), never the fact.
    oracle=f"""
WITH daily AS (
  SELECT event_type, (epoch(ts::DATE) // 86400)::BIGINT AS day,
         {dsum_sql('value')} AS total
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
         (b.total - a.total) / (b.day - a.day)::DOUBLE AS slope,
         a.day AS di, b.day AS dj
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
),
ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, di, dj) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM slopes
)
SELECT event_type, max(n)::BIGINT AS n_pairs,
       (min(CASE WHEN rn = (n + 1) // 2 THEN slope END)
        + min(CASE WHEN rn = (n + 2) // 2 THEN slope END)) / 2.0::DOUBLE
         AS theilsen_slope
FROM ranked
GROUP BY event_type
""",
    doc="Theil-Sen robust trend estimate of daily value totals per "
    "event type: median of all pairwise slopes over the tiny daily "
    "aggregate — the fact table aggregates once; the quadratic pair "
    "join touches |types| x |days|^2 rows of a 150-row frame. The "
    "trend number a monitoring pipeline alerts on when OLS would "
    "chase a single outlier day.",
    tags=("events", "stats", "extension"),
)
def e_theilsen_trend(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.to_date("ts").cast("timestamp").cast("long") / F.lit(86400))
        .cast("long")
        .alias("day"),
    ).agg(dsum("value").alias("total"))
    a = daily.select(
        "event_type", F.col("day").alias("di"), F.col("total").alias("ta")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("dj"),
        F.col("total").alias("tb"),
    )
    slopes = (
        a.join(b, (a.event_type == b.et_b) & (a.di < b.dj))
        .select(
            "event_type",
            ((F.col("tb") - F.col("ta")) / (F.col("dj") - F.col("di")).cast("double")).alias("slope"),
            "di",
            "dj",
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope", "di", "dj")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    lower = F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("slope")))
    upper = F.min(F.when(F.col("rn") == F.expr("(n + 2) div 2"), F.col("slope")))
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_pairs"),
        ((lower + upper) / F.lit(2.0)).alias("theilsen_slope"),
    )


@register(
    "e_cusum_changepoint",
    # CUSUM change detection on the daily total series: cumulative sum
    # of deviations from the global mean peaks at the regime change.
    # Exactness: prefix totals through the decimal window, the mean is
    # one division, i*mean one multiply, the deviation one subtract —
    # all on identical doubles; the argmax day uses the unique
    # (|dev| desc, day) chain.
    oracle=f"""
WITH daily AS (
  SELECT (epoch(ts::DATE) // 86400)::BIGINT AS day,
         {dsum_sql('value')} AS total
  FROM events GROUP BY 1
),
m AS (SELECT {davg_sql('total')} AS mu, count(*)::BIGINT AS n FROM daily),
c AS (
  SELECT day, total,
         {dsum_over_sql('total', 'ORDER BY day ROWS UNBOUNDED PRECEDING')}
           - (row_number() OVER (ORDER BY day))::DOUBLE * m.mu AS cum_dev
  FROM daily, m
)
SELECT day, total, cum_dev,
       (row_number() OVER (ORDER BY abs(cum_dev) DESC, day) = 1)
         AS is_changepoint
FROM c
""",
    doc="CUSUM change-point scan over daily value totals: the day "
    "where the cumulative deviation from the series mean peaks — the "
    "classic drift detector for ingest monitoring. The fact "
    "aggregates once to a |days|-row frame; prefix sums, the mean "
    "subtraction and the argmax all run on that tiny series.",
    tags=("events", "stats", "extension"),
)
def e_cusum_changepoint(spark, sf_dir):
    from ..functions.exact import davg, dsum_over

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        (F.to_date("ts").cast("timestamp").cast("long") / F.lit(86400))
        .cast("long")
        .alias("day")
    ).agg(dsum("value").alias("total"))
    m = daily.agg(davg("total").alias("mu"))
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "total",
        (
            dsum_over("total", wd)
            - F.row_number().over(Window.orderBy("day")).cast("double") * F.col("mu")
        ).alias("cum_dev"),
    )
    wr = Window.orderBy(F.abs(F.col("cum_dev")).desc(), "day")
    return c.select(
        "day", "total", "cum_dev", (F.row_number().over(wr) == 1).alias("is_changepoint")
    )


@register(
    "e_json_props_stats",
    # Semi-structured extraction: the JSON props column parsed by each
    # engine's native JSON path API (get_json_object ~ json_extract),
    # integer payloads so the per-type stats are exact. The
    # schema-on-read pattern for event streams whose properties bag
    # evolves faster than the table schema.
    oracle="""
SELECT event_type,
       count(*)::BIGINT AS n,
       sum(CASE WHEN json_extract(props, '$.k') IS NOT NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_with_k,
       min(json_extract(props, '$.k')::BIGINT)::BIGINT AS min_k,
       max(json_extract(props, '$.k')::BIGINT)::BIGINT AS max_k,
       sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k
FROM events
GROUP BY event_type
""",
    doc="JSON property extraction over the event props bag via the "
    "native JSON path APIs (Spark get_json_object == DuckDB "
    "json_extract on this shape), aggregated per event type with "
    "exact integer stats — the schema-on-read surface for evolving "
    "event payloads; extraction is a per-row expression, so the "
    "filter/agg pipeline is unchanged.",
    tags=("events", "extension"),
)
def e_json_props_stats(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(k.isNotNull(), 1).otherwise(0)).cast("long").alias("n_with_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.sum(k).alias("sum_k"),
    )


@register(
    "e_longest_streak",
    # Gaps-and-islands on the per-user active-day set: day_index minus
    # dense day rank is constant within a consecutive run, so the
    # longest streak is a max over (user, island) counts — two
    # aggregates and one user-partitioned rank, all integer.
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, (epoch(ts::DATE) // 86400)::BIGINT AS day
  FROM events
),
isl AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM days
),
runs AS (
  SELECT user_id, island, count(*)::BIGINT AS len,
         min(day)::BIGINT AS start_day
  FROM isl GROUP BY 1, 2
)
SELECT user_id, max(len)::BIGINT AS longest_streak,
       count(*)::BIGINT AS n_streaks,
       min(start_day)::BIGINT AS first_day
FROM runs GROUP BY user_id
""",
    doc="Longest consecutive-active-day streak per user "
    "(gaps-and-islands: epoch-day minus per-user day rank is constant "
    "inside a run) plus streak count — the engagement metric behind "
    "every retention dashboard. Distinct-days, the rank window and "
    "both aggregates all share the user_id partitioning: one shuffle "
    "chain, no global ordering anywhere.",
    tags=("events", "window", "extension"),
)
def e_longest_streak(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        (F.to_date("ts").cast("timestamp").cast("long") / F.lit(86400))
        .cast("long")
        .alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn("island", F.col("day") - F.row_number().over(w))
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    return runs.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.min("start_day").cast("long").alias("first_day"),
    )


@register(
    "e_metric_decomposition",
    # Root-cause decomposition: the day-over-day change of the total
    # value metric is exactly the sum of per-event-type deltas, so the
    # report shows each type's contribution (and share of the total
    # move). Additivity is exact because daily totals go through
    # decimal sums: total_delta == sum(type_delta) bit-for-bit.
    oracle=f"""
WITH daily AS (
  SELECT event_type, strftime(ts::DATE, '%Y-%m-%d') AS day,
         {dsum_sql('value')} AS total
  FROM events GROUP BY 1, 2
),
d AS (
  SELECT event_type, day, total,
         total - lag(total) OVER (PARTITION BY event_type ORDER BY day)
           AS delta
  FROM daily
),
t AS (
  SELECT day, round(sum((delta)::DECIMAL(30,10)), 4)::DOUBLE AS total_delta
  FROM d WHERE delta IS NOT NULL GROUP BY day
)
SELECT d.day, d.event_type, d.delta, t.total_delta,
       d.delta / t.total_delta AS contribution_share
FROM d JOIN t USING (day)
WHERE d.delta IS NOT NULL
""",
    doc="Metric change decomposition: each day's move in total value "
    "split into per-event-type contributions with shares — the "
    "root-cause table behind every 'why did the metric move' "
    "question. Decimal-exact daily totals make the decomposition "
    "additive to the bit (type deltas sum exactly to the total "
    "delta); everything past the one (type, day) aggregate runs on "
    "the tiny daily frame.",
    tags=("events", "window", "extension"),
)
def e_metric_decomposition(spark, sf_dir):
    from ..functions.exact import DEC

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(dsum("value").alias("total"))
    w = Window.partitionBy("event_type").orderBy("day")
    d = daily.withColumn("delta", F.col("total") - F.lag("total").over(w)).filter(
        F.col("delta").isNotNull()
    )
    t = d.groupBy("day").agg(
        F.round(F.sum(F.col("delta").cast(DEC)), 4).cast("double").alias("total_delta")
    )
    return d.join(F.broadcast(t), "day").select(
        "day",
        "event_type",
        "delta",
        "total_delta",
        (F.col("delta") / F.col("total_delta")).alias("contribution_share"),
    )


@register(
    "e_new_vs_returning",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id, strftime(ts::DATE, '%Y-%m-%d') AS day FROM events
),
first_day AS (SELECT user_id, min(day) AS fd FROM act GROUP BY 1)
SELECT a.day,
       count(*)::BIGINT AS dau,
       sum(CASE WHEN a.day = f.fd THEN 1 ELSE 0 END)::BIGINT AS new_users,
       sum(CASE WHEN a.day > f.fd THEN 1 ELSE 0 END)::BIGINT AS returning_users,
       sum(CASE WHEN a.day > f.fd THEN 1 ELSE 0 END)::DOUBLE / count(*)
         AS returning_share
FROM act a JOIN first_day f USING (user_id)
GROUP BY a.day
""",
    doc="Daily actives decomposed into new vs returning (first-seen "
    "day from a per-user min, joined back to the distinct activity "
    "days) — the DAU decomposition every growth dashboard leads with. "
    "Two user-partitioned passes + one day aggregate; the share is a "
    "single exact integer division.",
    tags=("events", "extension"),
)
def e_new_vs_returning(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).distinct()
    first_day = act.groupBy("user_id").agg(F.min("day").alias("fd"))
    j = act.join(first_day, "user_id")
    return j.groupBy("day").agg(
        F.count(F.lit(1)).alias("dau"),
        F.sum(F.when(F.col("day") == F.col("fd"), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.sum(F.when(F.col("day") > F.col("fd"), 1).otherwise(0))
        .cast("long")
        .alias("returning_users"),
        (
            F.sum(F.when(F.col("day") > F.col("fd"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("returning_share"),
    )


@register(
    "e_out_of_order_census",
    # Out-of-orderness census — the number that SIZES A WATERMARK:
    # within each user's ARRIVAL order, an event is late by (running
    # max event-time so far) - (its event time). The synthetic corpus
    # is perfectly ordered, so arrival is modeled as event time plus a
    # deterministic md5-keyed transport delay (0-7199 s, the mobile-
    # upload batching scale; per-user interarrivals here are hours) —
    # the census then measures real disorder. Delay uses FOUR hex
    # chars of the md5 (0-65535 before % 7200) so the full 0-7199 s
    # range is reachable; two chars capped jitter at 255 s and made
    # the 1m+ buckets unreachable (ADVICE r7). The histogram of that lateness is
    # exactly the distribution a `withWatermark` delay must cover;
    # pick the bucket that bounds your tolerated drop rate. Integer
    # epoch arithmetic; per-user window, then a tiny bucket aggregate.
    oracle="""
WITH arr AS (
  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS sec,
         floor(epoch(ts))::BIGINT
           + ('0x' || substr(md5('ooo|' || event_id::VARCHAR), 1, 4))::INT % 7200
           AS arrival_sec
  FROM events
),
seq AS (
  SELECT user_id, event_id, sec,
         max(sec) OVER (
           PARTITION BY user_id ORDER BY arrival_sec, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM arr
),
late AS (
  SELECT greatest(0, coalesce(prev_max, 0) - sec) AS late_by
  FROM seq WHERE prev_max IS NOT NULL
),
bucketed AS (
  SELECT CASE WHEN late_by = 0 THEN 'a_in_order'
              WHEN late_by < 60 THEN 'b_under_1m'
              WHEN late_by < 600 THEN 'c_under_10m'
              WHEN late_by < 3600 THEN 'd_under_1h'
              ELSE 'e_1h_plus' END AS lateness_bucket,
         late_by
  FROM late
)
SELECT lateness_bucket,
       count(*)::BIGINT AS n_events,
       max(late_by)::BIGINT AS max_late_seconds,
       count(*)::DOUBLE / (SELECT count(*) FROM late) AS share
FROM bucketed GROUP BY lateness_bucket
""",
    doc="Watermark-sizing census: per-user lateness of each event "
    "against the running max event time in arrival order (modeled as "
    "event time + deterministic md5-keyed transport delay, 0-2 h), "
    "bucketed into the delays a withWatermark would need to cover — "
    "the batch diagnostic behind every streaming watermark choice. "
    "One user-partitioned window over the fact table, then a 5-row "
    "bucket aggregate.",
    tags=("events", "streaming", "extension"),
)
def e_out_of_order_census(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    arr = ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("sec"),
        (
            F.col("ts").cast("long")
            + F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("ooo|"), F.col("event_id").cast("string"))
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("int")
            % 7200
        ).alias("arrival_sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = arr.withColumn("prev_max", F.max("sec").over(w))
    late = (
        seq.filter(F.col("prev_max").isNotNull())
        .select(
            F.greatest(
                F.lit(0), F.coalesce("prev_max", F.lit(0)) - F.col("sec")
            ).alias("late_by")
        )
        .transform(lineage_cut_lazy)  # consumed by the census + the total
    )
    total = late.count()
    bucket = (
        F.when(F.col("late_by") == 0, "a_in_order")
        .when(F.col("late_by") < 60, "b_under_1m")
        .when(F.col("late_by") < 600, "c_under_10m")
        .when(F.col("late_by") < 3600, "d_under_1h")
        .otherwise("e_1h_plus")
    )
    return (
        late.groupBy(bucket.alias("lateness_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_by").cast("long").alias("max_late_seconds"),
        )
        .withColumn(
            "share", F.col("n_events").cast("double") / F.lit(total)
        )
    )


KM_VALUE_T = 150.0  # "conversion" = first purchase above this value


@register(
    "e_survival_km",
    # Kaplan-Meier time-to-conversion: the survival event is a user's
    # FIRST high-value purchase (value > 150 — ~47% of users ever
    # have one, so censoring is real); users without one are censored
    # at the corpus horizon. S(t) = prod over event times <= t of
    # (1 - d_i / n_i). The product chain is the one float hazard: each
    # factor's log2 is quantized %.7f (the repo's 1-ulp recipe), the
    # cumulative sum runs over the tiny event-time table through the
    # decimal window path, and the final pow(2, x) is quantized again
    # — deterministic end to end.
    oracle=f"""
WITH horizon AS (SELECT max(ts) AS h FROM events),
lt AS (
  SELECT user_id,
         CASE WHEN min(CASE WHEN event_type = 'purchase' AND value > {KM_VALUE_T}
                            THEN ts END) IS NOT NULL
              THEN date_diff('day', min(ts)::DATE,
                             min(CASE WHEN event_type = 'purchase'
                                       AND value > {KM_VALUE_T}
                                      THEN ts END)::DATE)
              ELSE date_diff('day', min(ts)::DATE, (SELECT h FROM horizon)::DATE)
              END::BIGINT AS t_days,
         (min(CASE WHEN event_type = 'purchase' AND value > {KM_VALUE_T}
                   THEN ts END) IS NOT NULL)::INT AS converted
  FROM events GROUP BY user_id
),
ev_times AS (
  SELECT t_days, sum(converted)::BIGINT AS d
  FROM lt WHERE converted = 1 GROUP BY t_days
),
risk AS (
  SELECT e.t_days, e.d,
         (SELECT count(*) FROM lt WHERE lt.t_days >= e.t_days)::BIGINT AS n
  FROM ev_times e
),
chain AS (
  SELECT t_days, d, n,
         printf('%.7f', log2(1.0::DOUBLE - d::DOUBLE / n))::DOUBLE AS lf
  FROM risk
),
cum AS (
  SELECT t_days, d, n,
         round(sum((lf)::DECIMAL(30,10)) OVER (
           ORDER BY t_days ROWS UNBOUNDED PRECEDING), 4)::DOUBLE AS cl
  FROM chain
)
SELECT t_days, n AS n_at_risk, d AS n_converted,
       printf('%.7f', pow(2.0::DOUBLE, cl))::DOUBLE AS survival
FROM cum
""",
    doc="Kaplan-Meier time-to-conversion curve: per-user days from "
    "first activity to first high-value purchase (censored at the "
    "horizon for the ~53% who never convert — real censoring, the "
    "reason KM exists), risk sets from the lifetime distribution via "
    "a cumulative count, and the survival product computed as a "
    "quantized-log2 cumulative sum (decimal window over the ~30-row "
    "event-time table) with a quantized pow at the end — the standard "
    "survival estimator, engine-identical. The only fact-table pass "
    "is the per-user conditional-min aggregate.",
    tags=("events", "stats", "extension"),
)
def e_survival_km(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("h")).collect()[0]["h"]
    h_lit = F.lit(horizon)
    conv_ts = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") > KM_VALUE_T),
            F.col("ts"),
        )
    )
    lt = ev.groupBy("user_id").agg(
        F.when(
            conv_ts.isNotNull(),
            F.datediff(F.to_date(conv_ts), F.to_date(F.min("ts"))),
        )
        .otherwise(F.datediff(F.to_date(h_lit), F.to_date(F.min("ts"))))
        .cast("long")
        .alias("t_days"),
        conv_ts.isNotNull().cast("int").alias("converted"),
    ).transform(lineage_cut_lazy)  # consumed by event times AND risk sets
    ev_times = (
        lt.filter(F.col("converted") == 1)
        .groupBy("t_days")
        .agg(F.sum("converted").cast("long").alias("d"))
    )
    # risk set via a cumulative count over the tiny lifetime-value
    # table: n(t) = total - #lifetimes < t (never a per-event-time
    # correlated scan)
    sizes = lt.groupBy("t_days").agg(F.count(F.lit(1)).alias("n_lt"))
    w_cum = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    total = lt.count()
    below = sizes.select(
        "t_days",
        F.coalesce(F.sum("n_lt").over(w_cum), F.lit(0)).alias("n_below"),
    )
    risk = ev_times.join(below, "t_days").select(
        "t_days", "d", (F.lit(total) - F.col("n_below")).cast("long").alias("n")
    )
    lf = F.format_string(
        "%.7f", F.log2(F.lit(1.0) - F.col("d").cast("double") / F.col("n"))
    ).cast("double")
    from ..functions.exact import dsum_over

    w_chain = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    chain = risk.withColumn("lf", lf).withColumn(
        "cl", dsum_over(F.col("lf"), w_chain)
    )
    return chain.select(
        "t_days",
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("n_converted"),
        F.format_string("%.7f", F.pow(F.lit(2.0), F.col("cl")))
        .cast("double")
        .alias("survival"),
    )


WATERMARK_CANDIDATES = (0, 60, 600, 3600, 7200)


@register(
    "e_watermark_sizing",
    # The decision curve on top of e_out_of_order_census: for each
    # candidate withWatermark delay, the share of events a streaming
    # job would DROP (an event is dropped when it arrives after the
    # watermark passed its event time, i.e. lateness > delay). Same
    # deterministic md5-keyed arrival model as the census (4 hex
    # chars -> 0-7199 s transport jitter); the curve is what turns
    # the census histogram into an operating point: pick the smallest
    # delay whose drop share is under the SLO. Integer lateness, 5-row
    # fan-out per event, one aggregate.
    oracle=f"""
WITH arr AS (
  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS sec,
         floor(epoch(ts))::BIGINT
           + ('0x' || substr(md5('ooo|' || event_id::VARCHAR), 1, 4))::INT % 7200
           AS arrival_sec
  FROM events
),
seq AS (
  SELECT user_id, event_id, sec,
         max(sec) OVER (
           PARTITION BY user_id ORDER BY arrival_sec, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM arr
),
late AS (
  SELECT greatest(0, coalesce(prev_max, 0) - sec) AS late_by
  FROM seq WHERE prev_max IS NOT NULL
)
SELECT d AS candidate_delay_s,
       count(*)::BIGINT AS n_events,
       sum(CASE WHEN late_by > d THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       sum(CASE WHEN late_by > d THEN 1 ELSE 0 END)::DOUBLE / count(*)
         AS drop_share
FROM late, unnest({list(WATERMARK_CANDIDATES)!r}) t(d)
GROUP BY d
""",
    doc="Watermark sizing curve: drop share at candidate withWatermark "
    "delays (0 s to 2 h) under the census's deterministic arrival "
    "model — the operating-point table that converts the lateness "
    "histogram into a concrete watermark choice with a known loss "
    "budget. One per-user window (shared with the census), a 5-way "
    "integer fan-out, one aggregate.",
    tags=("events", "streaming", "extension"),
)
def e_watermark_sizing(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    arr = ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("sec"),
        (
            F.col("ts").cast("long")
            + F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("ooo|"), F.col("event_id").cast("string"))
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("int")
            % 7200
        ).alias("arrival_sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = (
        arr.withColumn("prev_max", F.max("sec").over(w))
        .filter(F.col("prev_max").isNotNull())
        .select(
            F.greatest(
                F.lit(0), F.coalesce("prev_max", F.lit(0)) - F.col("sec")
            ).alias("late_by")
        )
    )
    fan = late.select(
        "late_by",
        F.explode(
            F.array(*[F.lit(d) for d in WATERMARK_CANDIDATES])
        ).alias("candidate_delay_s"),
    )
    return fan.groupBy("candidate_delay_s").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("late_by") > F.col("candidate_delay_s"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        (
            F.sum(
                F.when(F.col("late_by") > F.col("candidate_delay_s"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("drop_share"),
    )


@register(
    "e_variant_json_stats",
    # Spark 4 VariantType face: the semi-structured props column is
    # parsed ONCE into the binary variant encoding (parse_json) and
    # fields are extracted with variant_get — the open-lakehouse
    # answer to schema-on-read JSON that replaces per-access string
    # re-parsing (get_json_object, the e_json_props_stats face) with
    # a parse-once/read-many binary form; schema_of_variant exposes
    # the inferred shape as data. Integer extraction keeps the gate
    # exact; DuckDB mirrors with its own json_extract.
    oracle="""
SELECT event_type,
       count(*)::BIGINT AS n_events,
       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       min(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS min_k,
       max(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS max_k,
       'OBJECT<k: BIGINT>' AS variant_schema
FROM events GROUP BY event_type
""",
    doc="VariantType JSON stats: props parsed once to the Spark 4 "
    "variant binary form, k extracted via variant_get with per-type "
    "integer stats, and the variant's inferred schema emitted as a "
    "column (schema_of_variant) — the parse-once semi-structured "
    "path next to the string-re-parsing get_json_object face.",
    tags=("events", "extension"),
)
def e_variant_json_stats(spark, sf_dir):
    from pyspark.sql.functions import parse_json, schema_of_variant, variant_get

    ev = load(spark, sf_dir, "events").withColumn("v", parse_json("props"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(variant_get("v", "$.k", "long")).cast("long").alias("sum_k"),
        F.min(variant_get("v", "$.k", "long")).cast("long").alias("min_k"),
        F.max(variant_get("v", "$.k", "long")).cast("long").alias("max_k"),
        F.max(schema_of_variant("v")).alias("variant_schema"),
    )


@register(
    "e_markov_transitions",
    # First-order Markov transition matrix over each user's event-type
    # sequence — the behavioral fingerprint behind next-action
    # prediction and journey anomaly detection (e_event_paths censuses
    # fixed trigrams; this is the full conditional matrix). One lag
    # window per user (unique (ts, event_id) chain), one (from, to)
    # count aggregate; probabilities are integer-count divisions, so
    # the matrix is bit-equal in both engines. At 100 TB: the window
    # partitions by user (bounded), the matrix is |types|^2 rows.
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
cells AS (
  SELECT event_type AS from_type, next_type AS to_type,
         count(*)::BIGINT AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
),
margins AS (
  SELECT from_type, sum(n)::BIGINT AS n_from FROM cells GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n, m.n_from,
       c.n::DOUBLE / m.n_from AS prob
FROM cells c JOIN margins m ON m.from_type = c.from_type
""",
    doc="First-order Markov transition matrix of per-user event-type "
    "sequences: lag window per user, (from, to) counts with row "
    "margins and exact conditional probabilities — the journey model "
    "next-action and anomaly scoring read from.",
    tags=("events", "extension"),
)
def e_markov_transitions(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cells = seq.select(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n")).transform(
        lineage_cut_lazy
    )  # margins + the probability join
    margins = cells.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return cells.join(F.broadcast(margins), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.col("n_from").cast("long").alias("n_from"),
        (F.col("n").cast("double") / F.col("n_from")).alias("prob"),
    )


@register(
    "e_diff_in_diff",
    # Difference-in-differences (public econometrics; the quasi-
    # experimental estimator when you have treatment/control AND
    # before/after): did = (T_post - T_pre) - (C_post - C_pre) removes
    # both the group-level baseline gap and the common time trend.
    # Panel: every user x {pre, post} with the user's exact-decimal
    # purchase total in that period (zero-filled — a balanced panel,
    # no survivorship in the cell means). Treatment is the sticky
    # md5-byte coin (the e_ab_test_analysis assignment rule, own
    # salt); pre/post is the integer epoch midpoint (the a_psi_drift
    # split). Because the panel is the SAME users pre and post, a
    # four-cell independent-variance SE would ignore the within-user
    # cov(y_pre, y_post) (r11 ADVICE): the SE here is the correct
    # paired form — per-user d = y_post - y_pre, then a two-sample
    # Welch t of d between T and C (did == mean_T(d) - mean_C(d) by
    # balance, so the estimate is unchanged; only its SE tightens).
    # Cell means and d-moments all come from exact-decimal sums. Two
    # hash aggregates (user-period totals -> user-grain pivot, then
    # 2-group combine) — the same two-pass shape at any scale.
    oracle="""
WITH mid AS (
  SELECT (floor(epoch(min(ts)))::BIGINT + floor(epoch(max(ts)))::BIGINT) // 2
           AS mid_epoch
  FROM events
),
up AS (
  SELECT user_id,
         CASE WHEN floor(epoch(ts))::BIGINT < mid.mid_epoch
              THEN 'pre' ELSE 'post' END AS period,
         round(sum(CASE WHEN event_type = 'purchase'
                        THEN value ELSE 0.0 END::DECIMAL(30,10)), 4)::DOUBLE AS y
  FROM events, mid GROUP BY 1, 2
),
ud AS (
  SELECT user_id,
         CASE WHEN ('0x' || substr(md5('did|' || user_id::VARCHAR), 1, 2))::INT < 128
              THEN 'T' ELSE 'C' END AS grp,
         coalesce(max(CASE WHEN period = 'pre' THEN y END), 0.0) AS y_pre,
         coalesce(max(CASE WHEN period = 'post' THEN y END), 0.0) AS y_post
  FROM up GROUP BY 1, 2
),
g AS (
  SELECT grp, count(*)::BIGINT AS n,
         round(sum((y_pre)::DECIMAL(30,10)), 4)::DOUBLE AS s_pre,
         round(sum((y_post)::DECIMAL(30,10)), 4)::DOUBLE AS s_post,
         round(sum((y_post - y_pre)::DECIMAL(30,10)), 4)::DOUBLE AS sd,
         round(sum(((y_post - y_pre) * (y_post - y_pre))::DECIMAL(30,10)), 4)::DOUBLE AS qd
  FROM ud GROUP BY 1
),
m AS (
  SELECT grp, n, s_pre / n AS m_pre, s_post / n AS m_post,
         (qd - (sd / n) * sd) / (n - 1) AS var_d
  FROM g
),
w AS (
  SELECT
    max(CASE WHEN grp = 'T' THEN n END) AS n_t,
    max(CASE WHEN grp = 'C' THEN n END) AS n_c,
    max(CASE WHEN grp = 'T' THEN m_pre END) AS m_t_pre,
    max(CASE WHEN grp = 'T' THEN m_post END) AS m_t_post,
    max(CASE WHEN grp = 'C' THEN m_pre END) AS m_c_pre,
    max(CASE WHEN grp = 'C' THEN m_post END) AS m_c_post,
    max(CASE WHEN grp = 'T' THEN var_d / n END)
      + max(CASE WHEN grp = 'C' THEN var_d / n END) AS se2
  FROM m
)
SELECT n_t AS n_treat, n_c AS n_control,
       m_t_pre, m_t_post, m_c_pre, m_c_post,
       (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_estimate,
       sqrt(se2) AS std_error,
       ((m_t_post - m_t_pre) - (m_c_post - m_c_pre)) / sqrt(se2) AS t_stat
FROM w
""",
    doc="Difference-in-differences on per-user purchase totals: sticky "
    "md5 treatment assignment, epoch-midpoint pre/post split, balanced "
    "zero-filled user-period panel, exact-decimal cell means, and the "
    "paired SE — a two-sample Welch t of per-user d = y_post - y_pre "
    "between T and C, which accounts for within-user cov(pre, post) "
    "that a four-cell independent-variance SE would ignore. Two hash "
    "aggregates at any scale.",
    tags=("events", "stats", "extension"),
)
def e_diff_in_diff(spark, sf_dir):
    from ..functions.exact import DEC, RSCALE

    ev = load(spark, sf_dir, "events")
    mid = ev.agg(
        (
            (F.floor(F.unix_timestamp(F.min("ts"))).cast("long")
             + F.floor(F.unix_timestamp(F.max("ts"))).cast("long")) / 2
        ).cast("long").alias("mid_epoch")
    )
    grp = F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit("did|"), F.col("user_id").cast("string"))), 1, 2), 16, 10)
        .cast("int") < 128,
        "T",
    ).otherwise("C")
    up = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy(
            "user_id",
            F.when(
                F.unix_timestamp("ts").cast("long") < F.col("mid_epoch"), "pre"
            ).otherwise("post").alias("period"),
        )
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                    .otherwise(0.0)
                    .cast(DEC)
                ),
                RSCALE,
            ).cast("double").alias("y")
        )
    )
    # user-grain pivot: every user has >= 1 event, so the zero-filled
    # balanced panel is one coalesce'd max-when per period — no
    # distinct-users frame or periods cross join needed
    ud = up.groupBy("user_id").agg(
        F.coalesce(
            F.max(F.when(F.col("period") == "pre", F.col("y"))), F.lit(0.0)
        ).alias("y_pre"),
        F.coalesce(
            F.max(F.when(F.col("period") == "post", F.col("y"))), F.lit(0.0)
        ).alias("y_post"),
    ).select("user_id", grp.alias("grp"), "y_pre", "y_post")
    d = F.col("y_post") - F.col("y_pre")
    g = ud.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("y_pre").cast(DEC)), RSCALE)
        .cast("double").alias("s_pre"),
        F.round(F.sum(F.col("y_post").cast(DEC)), RSCALE)
        .cast("double").alias("s_post"),
        F.round(F.sum(d.cast(DEC)), RSCALE).cast("double").alias("sd"),
        F.round(F.sum((d * d).cast(DEC)), RSCALE).cast("double").alias("qd"),
    )
    m = g.select(
        "grp",
        "n",
        (F.col("s_pre") / F.col("n")).alias("m_pre"),
        (F.col("s_post") / F.col("n")).alias("m_post"),
        (
            (F.col("qd") - (F.col("sd") / F.col("n")) * F.col("sd"))
            / (F.col("n") - 1)
        ).alias("var_d"),
    )

    def cell(grp_name, col):
        return F.max(F.when(F.col("grp") == grp_name, F.col(col)))

    w = m.agg(
        cell("T", "n").alias("n_treat"),
        cell("C", "n").alias("n_control"),
        cell("T", "m_pre").alias("m_t_pre"),
        cell("T", "m_post").alias("m_t_post"),
        cell("C", "m_pre").alias("m_c_pre"),
        cell("C", "m_post").alias("m_c_post"),
        (
            cell("T", "var_d") / cell("T", "n")
            + cell("C", "var_d") / cell("C", "n")
        ).alias("se2"),
    )
    did = (F.col("m_t_post") - F.col("m_t_pre")) - (
        F.col("m_c_post") - F.col("m_c_pre")
    )
    return w.select(
        "n_treat",
        "n_control",
        "m_t_pre",
        "m_t_post",
        "m_c_pre",
        "m_c_post",
        did.alias("did_estimate"),
        F.sqrt(F.col("se2")).alias("std_error"),
        (did / F.sqrt(F.col("se2"))).alias("t_stat"),
    )
