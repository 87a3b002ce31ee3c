"""Composite analytic queries: the TPC-H-shaped ``q<N>_*`` multi-join
aggregations, plus the calendar-spine, funnel, retention and
supplier/part-risk patterns that compose several §2 operators — the
"realistic query" layer on top of the per-operator inventory.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import (
    as_date,
    bigint,
    duck_epoch_s,
    epoch_s,
    r2,
    spread,
)
from trip_data_pipeline_spark.registry import op

CAT = "composite queries"


@op(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
  AND CAST(l_shipdate  AS DATE) > DATE '1998-03-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    category=CAT,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped shipping priority: segment filter -> 3-way join
    -> grouped revenue -> top-10 (total tie-break).  Both date filters
    push to their scans; the segment filter reduces customer before
    the join."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        as_date(F.col("o_orderdate")) < F.lit("1998-03-15").cast("date")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        as_date(F.col("l_shipdate")) > F.lit("1998-03-15").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            as_date(F.col("o_orderdate")).alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(
            r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@op(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM customer
JOIN nation   ON n_nationkey = c_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    category=CAT,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item report: top-20 customers by
    revenue lost to returns; nation dim broadcast."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            ),
            bigint(F.count(F.lit(1))).alias("n_lineitems"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@op(
    "calendar_spine_join",
    oracle="""
WITH cal AS (
  SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2001-08-01',
                                     INTERVAL 1 MONTH)) AS DATE) AS month
),
per_month AS (
  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(o_totalprice), 2) AS total
  FROM orders GROUP BY 1
)
SELECT cal.month,
       CAST(coalesce(per_month.n, 0) AS BIGINT) AS n_orders,
       round(coalesce(per_month.total, 0.0), 2) AS total
FROM cal LEFT JOIN per_month ON per_month.month = cal.month
""",
    category=CAT,
)
def calendar_spine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine generation + left join (gap-filled time series,
    months with zero orders included) — the dimension-spine ETL
    pattern.  The spine is generated with sequence(), not read: one
    row per month, broadcast side of the join."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-08-01").cast("date"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month")
    )
    per_month = (
        load(spark, sf_dir, "orders")
        .groupBy(F.trunc(as_date(F.col("o_orderdate")), "month").alias("month"))
        .agg(
            bigint(F.count(F.lit(1))).alias("n"),
            r2(F.sum("o_totalprice")).alias("total"),
        )
    )
    return F.broadcast(spine).join(per_month, "month", "left").select(
        "month",
        bigint(F.coalesce("n", F.lit(0))).alias("n_orders"),
        r2(F.coalesce("total", F.lit(0.0))).alias("total"),
    )


@op(
    "explode_outer_preserve",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 8) AS longw
  FROM documents
)
SELECT doc_id,
       unnest(CASE WHEN longw IS NULL OR len(longw) = 0
                   THEN [NULL] ELSE longw END) AS word
FROM t
""",
    category=CAT,
)
def explode_outer_preserve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty arrays survive with NULL (LEFT
    lateral view semantics) — docs with no long words keep one NULL
    row; the oracle emulates with a CASE to a [NULL] list."""
    d = load(spark, sf_dir, "documents")
    longw = F.filter(
        F.split(F.col("text"), " "), lambda w: F.length(w) > 8
    )
    return d.select(
        "doc_id", F.explode_outer(longw).alias("word")
    )


@op(
    "subquery_correlated",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice)
                          FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
""",
    category=CAT,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders >2x their customer's average)
    — exercises Catalyst's RewriteCorrelatedScalarSubquery: the
    correlated aggregate decorrelates into a grouped join, not a
    per-row re-scan.  Expressed via spark.sql (the DSL has no
    correlated-subquery surface)."""
    view = f"orders_sq_{uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM {view} o
        WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice)
                                  FROM {view} o2
                                  WHERE o2.o_custkey = o.o_custkey)
        """
    )


@op(
    "q4_order_priority_exists",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
  AND CAST(o_orderdate AS DATE) <  DATE '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    category=CAT,
)
def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped priority check: EXISTS decorrelates to a LEFT
    SEMI join on the order key (shipdate>orderdate+30d stands in for
    commit/receipt lateness, which the fixtures lack).  The quarter
    filter prunes orders before the semi-join's shuffle."""
    o = load(spark, sf_dir, "orders").filter(
        (as_date(F.col("o_orderdate")) >= F.lit("1996-07-01").cast("date"))
        & (as_date(F.col("o_orderdate")) < F.lit("1996-10-01").cast("date"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(bigint(F.count("*")).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@op(
    "q5_local_supplier_volume",
    oracle="""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey   = o_custkey
JOIN lineitem ON l_orderkey  = o_orderkey
JOIN supplier ON l_suppkey   = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) <  DATE '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    category=CAT,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped local supplier volume: 6-way join where the
    customer and supplier must share a nation, restricted to one region
    and year.  region/nation/supplier/customer are all broadcast-side;
    only orders<->lineitem shuffles on the order key."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (as_date(F.col("o_orderdate")) >= F.lit("1996-01-01").cast("date"))
        & (as_date(F.col("o_orderdate")) < F.lit("1997-01-01").cast("date"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@op(
    "q6_forecast_revenue",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    category=CAT,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped forecast revenue: pure scan-filter-agg, no join.
    All three predicates reach the parquet scan (PushedFilters) and the
    sum is a single partial+final agg — the canonical pushdown probe."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (as_date(F.col("l_shipdate")) >= F.lit("1996-01-01").cast("date"))
        & (as_date(F.col("l_shipdate")) < F.lit("1997-01-01").cast("date"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
        bigint(F.count("*")).alias("n_lines"),
    )


@op(
    "q12_late_lines_by_priority",
    oracle="""
SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY year(l_shipdate)
ORDER BY ship_year
""",
    category=CAT,
)
def q12_late_lines_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped shipping check (no l_shipmode in fixtures, so
    the 'late' predicate is shipdate>orderdate+60d and the split is by
    ship year): join + conditional counts via sum(CASE WHEN).  The
    non-equi lateness predicate stays a post-join filter on the single
    equi-join."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            bigint(F.sum(F.when(high, 1).otherwise(0))).alias("high_line_count"),
            bigint(F.sum(F.when(~high, 1).otherwise(0))).alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


@op(
    "q14_promo_revenue_pct",
    oracle="""
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-09-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1996-10-01'
""",
    category=CAT,
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped promo share: month-filtered lineitem joined to
    a broadcast part dim, ratio of conditional to total revenue in one
    aggregate pass (no second scan)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (as_date(F.col("l_shipdate")) >= F.lit("1996-09-01").cast("date"))
        & (as_date(F.col("l_shipdate")) < F.lit("1996-10-01").cast("date"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@op(
    "q18_large_volume_customer",
    oracle="""
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice,
       round(sum(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    category=CAT,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped large-volume customers: the IN-subquery is a
    grouped HAVING on lineitem semi-joined back, then the 3-way join
    re-aggregates per order.  The heavy groupBy(l_orderkey) happens
    once on the narrow (key, qty) projection."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > 200)
        .select("l_orderkey")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        li.withColumnRenamed("l_orderkey", "lk")
        .join(big, F.col("lk") == F.col("l_orderkey"), "inner")
        .join(o, F.col("lk") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            as_date(F.col("o_orderdate")).alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(r2(F.sum(F.col("l_quantity"))).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@op(
    "funnel_conversion",
    oracle="""
WITH s AS (
  SELECT user_id, min(epoch_us(ts) // 1000000) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), v AS (
  SELECT e.user_id, min(epoch_us(e.ts) // 1000000) AS t_view
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'view' AND (epoch_us(e.ts) // 1000000) >= s.t_signup
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(epoch_us(e.ts) // 1000000) AS t_purchase
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND (epoch_us(e.ts) // 1000000) >= v.t_view
  GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
       CAST((SELECT count(*) FROM v) AS BIGINT) AS n_then_view,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_then_purchase
""",
    category=CAT,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup -> later view -> later purchase): each
    stage keeps users whose stage event occurs at-or-after their
    previous stage's first event.  Three narrow grouped mins over one
    scan family, joined on user_id — shuffles carry (user, ts) pairs
    only.  All time math in integer epoch seconds (§5.3 rule 2)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_s("ts").alias("s")
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("s").alias("t_signup"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("s") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("s").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("s") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("s").alias("t_purchase"))
    )
    return (
        s.agg(bigint(F.count("*")).alias("n_signup"))
        .crossJoin(v.agg(bigint(F.count("*")).alias("n_then_view")))
        .crossJoin(p.agg(bigint(F.count("*")).alias("n_then_purchase")))
    )


@op(
    "retention_cohort",
    oracle="""
WITH d AS (
  SELECT user_id, (epoch_us(ts) // 1000000) // 86400 AS day
  FROM events
), c AS (
  SELECT user_id, min(day) AS d0 FROM d GROUP BY user_id
)
SELECT CAST(c.d0 // 7 AS BIGINT)          AS cohort_week,
       CAST((d.day - c.d0) // 7 AS BIGINT) AS week_offset,
       CAST(count(DISTINCT d.user_id) AS BIGINT) AS active_users
FROM d JOIN c ON d.user_id = c.user_id
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
""",
    category=CAT,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-activity week,
    counted distinct per week offset.  Day/week numbers are integer
    epoch-day arithmetic — engine-independent, no calendar functions
    (§5.3 rule 5).  The cohort map (user -> d0) is a narrow aggregate
    reused via join; at scale it broadcasts if the user dimension is
    small or co-partitions on user_id otherwise."""
    d = load(spark, sf_dir, "events").select(
        "user_id", (epoch_s("ts") / F.lit(86400)).cast("bigint").alias("day")
    )
    c = d.groupBy("user_id").agg(F.min("day").alias("d0"))
    return (
        d.join(c, "user_id")
        .groupBy(
            (F.col("d0") / 7).cast("bigint").alias("cohort_week"),
            ((F.col("day") - F.col("d0")) / 7).cast("bigint").alias("week_offset"),
        )
        .agg(bigint(F.count_distinct("user_id")).alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@op(
    "histogram_fixed_width",
    oracle="""
SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders
GROUP BY 1 ORDER BY bucket
""",
    category=CAT,
)
def histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor(x/w) bucketing — one partial+
    final aggregate, no sort; identical IEEE double division on both
    engines so bucket edges agree exactly.  min/max round at the 2dp
    value grid (§5.3 rule 1)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 25000).cast("bigint").alias("bucket")
        )
        .agg(
            bigint(F.count("*")).alias("n"),
            r2(F.min("o_totalprice")).alias("lo"),
            r2(F.max("o_totalprice")).alias("hi"),
        )
        .orderBy("bucket")
    )


@op(
    "supplier_pareto_8020",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000) AS BIGINT))
           AS rev_milli
  FROM lineitem GROUP BY l_suppkey
),
ranked AS (
  SELECT l_suppkey, rev_milli,
         sum(rev_milli) OVER (ORDER BY rev_milli DESC, l_suppkey
                              ROWS UNBOUNDED PRECEDING) AS cum_milli,
         sum(rev_milli) OVER ()                         AS total_milli,
         row_number()  OVER (ORDER BY rev_milli DESC, l_suppkey) AS rk
  FROM rev
)
SELECT CAST(count(*) AS BIGINT) AS n_head_suppliers,
       CAST((SELECT count(*) FROM rev) AS BIGINT) AS n_suppliers,
       round(sum(rev_milli) / 1000.0, 2) AS head_revenue,
       round(max(total_milli) / 1000.0, 2) AS total_revenue
FROM ranked
WHERE (cum_milli - rev_milli) * 10 < total_milli * 8
""",
    category=CAT,
)
def supplier_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the smallest head set of suppliers whose
    cumulative revenue reaches 80% of total.  Revenue is quantized to
    integer milli-units per line BEFORE summing; the 80% membership
    test is the integer cross-multiplication `(cum - own)*10 <
    total*8` — keep a supplier iff the revenue BEFORE it hasn't
    reached 80% — so no float threshold exists anywhere.  One groupBy
    shuffle + one global sort over the supplier aggregate (tiny
    relative to lineitem at every scale)."""
    li = load(spark, sf_dir, "lineitem")
    rev_milli = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000
    ).cast("bigint")
    rev = li.groupBy("l_suppkey").agg(F.sum(rev_milli).alias("rev_milli"))
    w_ord = (
        Window.partitionBy()
        .orderBy(F.col("rev_milli").desc(), "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy()
    ranked = rev.select(
        "rev_milli",
        F.sum("rev_milli").over(w_ord).alias("cum_milli"),
        F.sum("rev_milli").over(w_all.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("total_milli"),
    )
    n_suppliers = rev.agg(F.count("*").alias("n_suppliers"))
    return (
        ranked.filter(
            (F.col("cum_milli") - F.col("rev_milli")) * 10 < F.col("total_milli") * 8
        )
        .agg(
            bigint(F.count("*")).alias("n_head_suppliers"),
            r2(F.sum("rev_milli") / 1000.0).alias("head_revenue"),
            r2(F.max("total_milli") / 1000.0).alias("total_revenue"),
        )
        .crossJoin(F.broadcast(n_suppliers))
        .select(
            "n_head_suppliers",
            bigint(F.col("n_suppliers")).alias("n_suppliers"),
            "head_revenue",
            "total_revenue",
        )
    )


def _day(col: str):
    # unix_date(to_date(..)) is timezone-free on TIMESTAMP_NTZ columns
    # (lineitem/orders dates); matches DuckDB's naive epoch-day floor.
    return F.unix_date(F.to_date(F.col(col))).cast("bigint")


def _duck_day(col: str) -> str:
    return f"({duck_epoch_s(col)} // 86400)"


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@op(
    "q7_nation_volume",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(extract(year FROM l_shipdate) AS BIGINT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
    category=CAT,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7 shape: bidirectional trade volume between two nations
    by ship year.  Supplier/customer/nation dims broadcast; only
    lineitem<->orders shuffles.  The OR-of-pairs predicate is applied
    after both nation joins, exactly like the reference query."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            bigint(F.year(F.col("l_shipdate"))).alias("l_year"),
        )
        .agg(r2(F.sum(_rev())).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@op(
    "q9_profit_by_nation_year",
    oracle="""
SELECT n_name AS nation,
       CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.1 * p_retailprice * l_quantity), 2) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%5%'
GROUP BY 1, 2 ORDER BY nation, o_year
""",
    category=CAT,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9 shape: product-line profit by supplier nation and
    order year.  Fixtures have no partsupp, so supply cost is proxied
    as 10% of p_retailprice per unit (adaptation noted in module
    docstring); the plan shape is unchanged — three broadcast dims
    (part, supplier, nation) against the lineitem<->orders shuffle
    join, profit expression folded before the partial agg."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%5%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = _rev() - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            bigint(F.year(F.col("o_orderdate"))).alias("o_year"),
        )
        .agg(r2(F.sum(profit)).alias("profit"))
        .orderBy("nation", "o_year")
    )


@op(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
""",
    category=CAT,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 shape: distribution of per-customer order counts,
    including zero-order customers (the LEFT OUTER join with the
    filter INSIDE the join condition — pushing it to WHERE would drop
    them).  Two cascaded aggregations; the second groups on the tiny
    c_count domain so it coalesces to a near-free shuffle."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(bigint(F.count("o_orderkey")).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(bigint(F.count(F.lit(1))).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@op(
    "q17_small_quantity_revenue",
    oracle="""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#9' AND p_size < 15
  AND l_quantity < (
    SELECT 0.5 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey)
""",
    category=CAT,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17 shape: revenue lost if small-quantity orders were
    dropped — a correlated scalar average decorrelated into a per-part
    aggregate joined back to the filtered fact.  The threshold compare
    is exact: l_quantity is integer-valued, so avg = exact-int-sum /
    count is bit-identical on both engines.  (l_container doesn't
    exist in the fixture; p_size < 15 stands in.)"""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#9") & (F.col("p_size") < 15)
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pp")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("pp"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(r2(F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@op(
    "q19_disjunctive_revenue",
    oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
       AND l_quantity BETWEEN 5 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
       AND l_quantity BETWEEN 10 AND 40)
""",
    category=CAT,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19 shape: disjunction of conjunctive brand/size/quantity
    predicates across the part join.  Catalyst extracts the common
    l_quantity/ p_size bounds so both scans still get pushed filters
    (the classic Q19 optimization); part broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    q, sz, b = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((b == "Brand#1") & sz.between(1, 10) & q.between(1, 20))
        | ((b == "Brand#2") & sz.between(5, 20) & q.between(5, 30))
        | ((b == "Brand#3") & sz.between(10, 40) & q.between(10, 40))
    )
    return j.filter(cond).agg(r2(F.sum(_rev())).alias("revenue"))


@op(
    "q21_suppliers_kept_waiting",
    oracle=f"""
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         {_duck_day('l_shipdate')} AS ship_day
  FROM lineitem
), od AS (
  SELECT o_orderkey, {_duck_day('o_orderdate')} AS order_day
  FROM orders WHERE o_orderstatus = 'F'
), l1 AS (
  SELECT li.* FROM li JOIN od ON l_orderkey = o_orderkey
  WHERE ship_day > order_day + 60
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM li l2 WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l1 l3 WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
""",
    category=CAT,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21 shape: suppliers who were the SOLE late supplier on a
    finished multi-supplier order — EXISTS (another supplier on the
    order) + NOT EXISTS (another LATE supplier) compiling to a
    left-semi + left-anti join chain on l_orderkey.  'Late' is
    ship_day > order_day + 60 in integer epoch days (fixtures have no
    receipt/commit dates).  Both existence probes reuse the same
    shuffle key as the driving join — one partitioning serves all
    three."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _day("l_shipdate").alias("ship_day")
    )
    od = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", _day("o_orderdate").alias("order_day"))
    )
    s = load(spark, sf_dir, "supplier")
    l1 = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .filter(F.col("ship_day") > F.col("order_day") + 60)
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2"))
    l3 = l1.select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3"))
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("sk3")),
            "left_anti",
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(bigint(F.count(F.lit(1))).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@op(
    "q22_idle_customer_balance",
    oracle="""
WITH pos AS (
  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS balc
  FROM customer WHERE c_custkey % 7 IN (1, 3, 5) AND c_acctbal > 0.0
)
SELECT c_custkey % 7 AS bucket,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_custkey % 7 IN (1, 3, 5)
  AND CAST(round(c_acctbal * 100) AS BIGINT) * (SELECT count(*) FROM pos)
      > (SELECT sum(balc) FROM pos)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY 1 ORDER BY bucket
""",
    category=CAT,
)
def q22_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22 shape: above-average-balance customers with no
    orders, bucketed by a key-derived 'country code' (no c_phone in
    the fixture).  The global-average threshold is evaluated in exact
    integer cents, cross-multiplied (bal_cents * n > sum_cents) so no
    float division can flip a boundary row on either engine.  Plan:
    1-row global agg broadcast into the scan filter + left-anti join
    against orders."""
    c = load(spark, sf_dir, "customer").filter(
        (F.col("c_custkey") % 7).isin(1, 3, 5)
    )
    balc = F.round(F.col("c_acctbal") * 100).cast("bigint")
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(balc).alias("sum_cents"), F.count(F.lit(1)).alias("n_pos")
    )
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey"))
    return (
        c.join(F.broadcast(pos))
        .filter(balc * F.col("n_pos") > F.col("sum_cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 7).alias("bucket"))
        .agg(
            bigint(F.count(F.lit(1))).alias("numcust"),
            r2(F.sum("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("bucket")
    )


_DUCK_PARTSUPP = """
  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         (l_partkey * 31 + l_suppkey * 7) % 10000 + 100 AS ps_supplycost_cents,
         (l_partkey * 17 + l_suppkey * 13) % 1000 + 1   AS ps_availqty
  FROM lineitem
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pk, sk = F.col("ps_partkey"), F.col("ps_suppkey")
    return (
        li.select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
        .select(
            "ps_partkey",
            "ps_suppkey",
            ((pk * 31 + sk * 7) % 10000 + 100).alias("ps_supplycost_cents"),
            ((pk * 17 + sk * 13) % 1000 + 1).alias("ps_availqty"),
        )
    )


@op(
    "q2_min_cost_supplier",
    oracle=f"""
WITH partsupp AS ({_DUCK_PARTSUPP})
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       round(ps_supplycost_cents / 100.0, 2) AS supplycost
FROM part, supplier, partsupp, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size = 15 AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
  AND ps_supplycost_cents = (
    SELECT min(ps_supplycost_cents)
    FROM partsupp ps2, supplier s2, nation n2, region r2
    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
""",
    category=CAT,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2 shape: cheapest regional supplier per part — a
    correlated MIN subquery decorrelated into a per-part aggregate
    joined back on (partkey, exact integer cost).  Dims broadcast;
    the partsupp view is derived (module docstring) so the extremum
    compare is exact integer cents."""
    ps = _partsupp(spark, sf_dir)
    p = load(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    regional = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    min_cost = regional.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_supplycost_cents").alias("min_cents")
    )
    return (
        regional.join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .join(
            min_cost,
            (F.col("ps_partkey") == F.col("mk"))
            & (F.col("ps_supplycost_cents") == F.col("min_cents")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            r2(F.col("ps_supplycost_cents") / 100.0).alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@op(
    "q11_important_stock",
    oracle=f"""
WITH partsupp AS ({_DUCK_PARTSUPP}),
scoped AS (
  SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS value_cents
  FROM partsupp, supplier, nation
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
)
SELECT ps_partkey, round(sum(value_cents) / 100.0, 2) AS value
FROM scoped
GROUP BY ps_partkey
HAVING sum(value_cents) * 1000 > (SELECT sum(value_cents) FROM scoped)
ORDER BY value DESC, ps_partkey LIMIT 100
""",
    category=CAT,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11 shape: parts whose scoped inventory value exceeds
    1/1000 of the total — a HAVING against a global scalar aggregate.
    The fraction test is cross-multiplied in exact integer cents
    (sum*1000 > total), so no float division; the 1-row global agg
    broadcasts into the HAVING filter."""
    ps = _partsupp(spark, sf_dir)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
    )
    scoped = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("value_cents"),
        )
    )
    total = scoped.agg(F.sum("value_cents").alias("total_cents"))
    return (
        scoped.groupBy("ps_partkey")
        .agg(F.sum("value_cents").alias("part_cents"))
        .join(F.broadcast(total))
        .filter(F.col("part_cents") * 1000 > F.col("total_cents"))
        .select("ps_partkey", r2(F.col("part_cents") / 100.0).alias("value"))
        .orderBy(F.col("value").desc(), "ps_partkey")
        .limit(100)
    )


@op(
    "q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000) AS BIGINT))
           AS total_revenue_milli
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       round(total_revenue_milli / 1000.0, 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue_milli = (SELECT max(total_revenue_milli) FROM revenue)
ORDER BY s_suppkey
""",
    category=CAT,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15 shape: supplier(s) with maximum windowed revenue — the
    view + global-MAX-subquery pattern.  Per-line revenue is quantized
    to exact integer milli-units BEFORE summing (identical IEEE product
    then identical round on both engines), so the max-equality join
    cannot be flipped by sum-order float noise."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    rev_milli = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000
    ).cast("bigint")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev_milli).alias("total_revenue_milli")
    )
    mx = revenue.agg(F.max("total_revenue_milli").alias("mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue_milli") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            r2(F.col("total_revenue_milli") / 1000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@op(
    "q16_supplier_count",
    oracle=f"""
WITH partsupp AS ({_DUCK_PARTSUPP})
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                         WHERE s_name LIKE '%7%')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 100
""",
    category=CAT,
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16 shape: distinct supplier counts per excluded-filter
    part group, with a NOT IN supplier blacklist compiling to a
    broadcast left-anti join (the blacklist is provably non-null here,
    so NOT IN == anti join)."""
    ps = _partsupp(spark, sf_dir)
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7%"))
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(bigint(F.count_distinct("ps_suppkey")).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(100)
    )


@op(
    "q20_excess_stock_suppliers",
    oracle=f"""
WITH partsupp AS ({_DUCK_PARTSUPP}),
shipped AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey
)
SELECT s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_7')
  AND s_suppkey IN (
    SELECT ps_suppkey FROM partsupp
    JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%3%')
      AND ps_availqty > 0.5 * qty)
ORDER BY s_name
""",
    category=CAT,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20 shape: suppliers holding excess stock of filtered
    parts — two nested IN subqueries compiling to a semi-join chain.
    The stock threshold (availqty > half the shipped quantity) is
    exact: quantities are integer-valued doubles, halving is exact in
    binary."""
    ps = _partsupp(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("qty"))
    parts3 = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%3%"))
        .select("p_partkey")
    )
    excess = (
        ps.join(F.broadcast(parts3), ps.ps_partkey == parts3.p_partkey, "left_semi")
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey) & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@op(
    "q8_market_share",
    oracle="""
WITH flat AS (
  SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 1000) AS BIGINT)
           AS vol_milli,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n1 ON n1.n_nationkey = s_nationkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n2 ON n2.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = n2.n_regionkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_milli ELSE 0 END)
             / CAST(sum(vol_milli) AS DOUBLE), 4) AS mkt_share
FROM flat GROUP BY o_year ORDER BY o_year
""",
    category=CAT,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8 shape: one nation's share of regional revenue per
    year — conditional-sum ratio over a 7-way join (5 broadcast dims,
    lineitem<->orders shuffle).  Both sums are quantized to exact
    integer milli-units before the single final division, so the
    ratio's operands are bit-identical on both engines.  Completes the
    22/22 TPC-H shape coverage."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    vol_milli = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000
    ).cast("bigint")
    flat = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .select(
            bigint(F.year(F.col("o_orderdate"))).alias("o_year"),
            vol_milli.alias("vol_milli"),
            "supp_nation",
        )
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("vol_milli")).otherwise(0)
    )
    return (
        flat.groupBy("o_year")
        .agg(
            F.round(nation_vol / F.sum("vol_milli").cast("double"), 4).alias(
                "mkt_share"
            )
        )
        .orderBy("o_year")
    )


@op(
    "pipeline_anonymize_trips",
    oracle="""
SELECT event_id,
       substring(sha256(CAST(user_id AS VARCHAR)), 1, 16) AS uid_hash,
       CAST((epoch_us(ts) // 1000000)
            - (epoch_us(ts) // 1000000) % 900 AS BIGINT)  AS bucket_s,
       floor(value * 10) / 10                              AS value_reduced,
       event_type
FROM events
WHERE value > 0
""",
    category=CAT,
)
def pipeline_anonymize_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline's characteristic end-to-end record flow
    (SURVEY.md §3.1), composed from §2 operators: validate (filter) ->
    anonymize ids (hash + truncate) -> reduce temporal precision
    (15-min bucket) -> reduce value precision (floor to 1 dp) ->
    publish projection.  One scan, one narrow projection — the whole
    anonymization pass is a single codegen stage at any scale."""
    ev = load(spark, sf_dir, "events")
    s = F.expr("(unix_micros(ts) div 1000000)")
    return ev.filter(F.col("value") > 0).select(
        "event_id",
        F.substring(F.sha2(F.col("user_id").cast("string"), 256), 1, 16).alias(
            "uid_hash"
        ),
        bigint(s - s % 900).alias("bucket_s"),
        (F.floor(F.col("value") * 10) / 10).alias("value_reduced"),
        "event_type",
    )


MIN_SUPPORT = 5


@op(
    "basket_pair_affinity",
    oracle=f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT count(DISTINCT ok) AS n_orders FROM ob),
freq AS (SELECT b, count(*) AS c FROM ob GROUP BY b),
pairs AS (
  SELECT a.b AS brand_a, b2.b AS brand_b, count(*) AS n_ab
  FROM ob a JOIN ob b2 ON a.ok = b2.ok AND a.b < b2.b
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, CAST(n_ab AS BIGINT) AS n_ab,
       round(CAST(n_ab * n_orders AS DOUBLE) / (fa.c * fb.c), 4) AS lift
FROM pairs
JOIN freq fa ON fa.b = brand_a
JOIN freq fb ON fb.b = brand_b, n
WHERE n_ab >= {MIN_SUPPORT}
ORDER BY brand_a, brand_b
""",
    category=CAT,
)
def basket_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair affinity: for every brand pair co-occurring
    in >= 5 orders, the co-occurrence count and lift
    (P(ab)/(P(a)P(b))).  The self-join is keyed on the order — both
    sides share the l_orderkey shuffle partitioning, and per-order
    fan-out is bounded by the distinct-brand count of one basket, so
    the pair stage stays linear in orders at any scale.  Lift divides
    exact integer operands once, then rounds — engine-identical."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    # materialize the distinct basket relation once: four consumers
    # (both self-join sides, freq, n_orders) would otherwise each
    # re-scan lineitem and re-run the distinct shuffle.
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    n_orders = ob.agg(F.count_distinct("ok").alias("n_orders"))
    freq = ob.groupBy("b").agg(F.count("*").alias("c"))
    a = ob.alias("a")
    b2 = ob.alias("b2")
    pairs = (
        a.join(b2, (F.col("a.ok") == F.col("b2.ok")) & (F.col("a.b") < F.col("b2.b")))
        .groupBy(F.col("a.b").alias("brand_a"), F.col("b2.b").alias("brand_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= MIN_SUPPORT)
    )
    fa = freq.select(F.col("b").alias("brand_a"), F.col("c").alias("ca"))
    fb = freq.select(F.col("b").alias("brand_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(fa), "brand_a")
        .join(F.broadcast(fb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            bigint(F.col("n_ab")).alias("n_ab"),
            F.round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("ca") * F.col("cb")),
                4,
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


@op(
    "parts_single_source_risk",
    oracle="""
WITH ps AS (
  SELECT l_partkey AS pk,
         count(DISTINCT l_suppkey) AS n_suppliers,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_partkey
),
banded AS (
  SELECT CASE WHEN n_suppliers = 1 THEN 1
              WHEN n_suppliers = 2 THEN 2 ELSE 3 END AS supplier_band,
         cents
  FROM ps
)
SELECT CAST(supplier_band AS BIGINT) AS supplier_band,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       CAST(1000000 * sum(cents) // sum(sum(cents)) OVER () AS BIGINT)
         AS revenue_share_ppm
FROM banded GROUP BY supplier_band
""",
    category=CAT,
)
def parts_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source supply risk: parts banded by how many distinct
    suppliers actually shipped them (1 / 2 / 3+), with the revenue
    mass riding each band — the concentration-risk table procurement
    reads before a resilience push ('X% of revenue moves through
    single-sourced parts'), the supply-side mirror of the HHI demand
    view.

    Scale: one part-keyed agg with an exact distinct-supplier count
    (two-level, no global distinct) + the revenue sum in the same
    pass, then a 3-row band rollup."""
    li = spread(load(spark, sf_dir, "lineitem"))
    ps = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.sum(
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                " AS BIGINT)"
            )
        ).alias("cents"),
    )
    banded = ps.select(
        F.when(F.col("n_suppliers") == 1, 1)
        .when(F.col("n_suppliers") == 2, 2)
        .otherwise(3)
        .alias("supplier_band"),
        "cents",
    )
    per = banded.groupBy("supplier_band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("revenue_cents"),
    )
    return per.select(
        bigint(F.col("supplier_band")).alias("supplier_band"),
        bigint(F.col("n_parts")).alias("n_parts"),
        bigint(F.col("revenue_cents")).alias("revenue_cents"),
        F.sum("revenue_cents").over(Window.partitionBy()).alias("_tot"),
    ).select(
        "supplier_band",
        "n_parts",
        "revenue_cents",
        # DECIMAL(38,0): band revenue 1e6x overflows int64 at 100 TB
        # (round-7 ppm-overflow audit).
        bigint(
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * revenue_cents)"
                " div _tot AS BIGINT)"
            )
        ).alias("revenue_share_ppm"),
    )
