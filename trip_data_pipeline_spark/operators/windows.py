"""§2.5 Window functions (SURVEY.md §2.5).

Every materialized order carries a total tie-break key (§5.3 rules 7/8)
so ranks are deterministic.  Windows partition by real keys — the only
single-partition (global) window in the inventory is the bounded
sort_multikey_nulls materialization; everything here scales by its
partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import (
    as_date,
    bigint,
    epoch_s,
    r2,
    r4,
    range_parts,
    spread,
)
from trip_data_pipeline_spark.registry import op

CAT = "2.5 window functions"


@op(
    "win_rank_dense_rownum",
    oracle="""
SELECT c_custkey, c_nationkey, c_acctbal,
       CAST(rank()       OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       CAST(row_number() OVER w AS BIGINT) AS rn
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
""",
    category=CAT,
)
def win_rank_dense_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number over a total order — SURVEY.md
    §2.5 row 1."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        bigint(F.rank().over(w)).alias("rnk"),
        bigint(F.dense_rank().over(w)).alias("drnk"),
        bigint(F.row_number().over(w)).alias("rn"),
    )


@op(
    "win_topk_per_group",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
      FROM orders) t
WHERE rn <= 3
""",
    category=CAT,
    pure=True,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — SURVEY.md §2.5 row 2.

    row_number + filter is the per-group top-k physical pattern; Spark
    pushes a WindowGroupLimit (top-k per partition before the full
    sort) in recent versions, keeping state bounded per key."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            bigint(F.row_number().over(w)).alias("rn"),
        ).filter(F.col("rn") <= 3)
    )


@op(
    "win_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
""",
    category=CAT,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative order value per customer — SURVEY.md §2.5 row 3.
    Prefix sums of 2dp values stay on the 2dp grid, so round(2) is
    tie-free."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        as_date(F.col("o_orderdate")).alias("o_orderdate"),
        r2(F.sum("o_totalprice").over(w)).alias("running_total"),
    )


@op(
    "win_moving_avg",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, round(sum(value), 2) AS day_value
  FROM events GROUP BY 1
)
SELECT day, day_value,
       round(avg(day_value) OVER (ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7
FROM daily
""",
    category=CAT,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily event value — SURVEY.md §2.5 row 4.

    The global window runs over ~30 pre-aggregated daily rows, not raw
    events — aggregate first, window the small result (the scale-safe
    shape for time-series smoothing)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(r2(F.sum("value")).alias("day_value"))
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day", "day_value", r2(F.avg("day_value").over(w)).alias("ma7")
    )


@op(
    "win_range_frame",
    oracle="""
SELECT p_partkey, p_brand, p_size,
       round(sum(p_retailprice) OVER (
         PARTITION BY p_brand ORDER BY p_size
         RANGE BETWEEN 10 PRECEDING AND 10 FOLLOWING), 2) AS near_size_total
FROM part
""",
    category=CAT,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, peer-inclusive) — SURVEY.md §2.5
    row 5."""
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_size").rangeBetween(-10, 10)
    return p.select(
        "p_partkey",
        "p_brand",
        "p_size",
        r2(F.sum("p_retailprice").over(w)).alias("near_size_total"),
    )


@op(
    "win_lag_lead",
    oracle="""
WITH e AS (SELECT event_id, user_id, value,
                  (epoch_us(ts) // 1000000) AS s FROM events)
SELECT event_id, user_id,
       round(value - lag(value) OVER w, 2)          AS value_delta,
       CAST(lead(s) OVER w - s AS BIGINT)           AS gap_to_next_s
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
""",
    category=CAT,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas per user — SURVEY.md §2.5 row 6."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", epoch_s("ts").alias("s")
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        r2(F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        bigint(F.lead("s").over(w) - F.col("s")).alias("gap_to_next_s"),
    )


@op(
    "win_ntile_pctrank",
    oracle="""
SELECT c_custkey, c_mktsegment,
       CAST(ntile(4) OVER w AS BIGINT)      AS quartile,
       round(percent_rank() OVER w, 6)      AS pct_rank,
       round(cume_dist() OVER w, 6)         AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
    category=CAT,
)
def win_ntile_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist — SURVEY.md §2.5 row 7."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        bigint(F.ntile(4).over(w)).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@op(
    "win_first_last",
    oracle="""
SELECT c_custkey, c_nationkey,
       first_value(c_name) OVER w AS richest,
       last_value(c_name)  OVER w AS poorest
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    category=CAT,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value over an explicit full frame — SURVEY.md §2.5
    row 8 (explicit frame: the default frame stops at CURRENT ROW,
    which would make last_value trivially the current row)."""
    c = load(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.first("c_name").over(w).alias("richest"),
        F.last("c_name").over(w).alias("poorest"),
    )


@op(
    "win_time_weighted_avg",
    oracle="""
WITH t AS (
  SELECT user_id, value,
         epoch_us(ts) // 1000000 AS s,
         lead(epoch_us(ts) // 1000000) OVER (
           PARTITION BY user_id
           ORDER BY epoch_us(ts) // 1000000, event_id) AS ns
  FROM events
)
SELECT user_id,
       round(sum(value * (ns - s)) / sum(ns - s), 4) AS twap,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM t WHERE ns IS NOT NULL AND ns > s
GROUP BY user_id
""",
    category=CAT,
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation weighted by its
    holding time until the next observation (lead over the per-user
    timeline), then one grouped ratio.  The irregular-timeseries
    rollup a tick store needs; all time math in integer epoch seconds
    (§5.3 rule 2), total order (s, event_id) so lead() is
    deterministic on both engines.  One shuffle on user_id serves both
    the window sort and the final aggregate."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "value", "event_id", epoch_s("ts").alias("s")
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    t = ev.withColumn("ns", F.lead("s").over(w))
    return (
        t.filter(F.col("ns").isNotNull() & (F.col("ns") > F.col("s")))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * (F.col("ns") - F.col("s")))
                / F.sum(F.col("ns") - F.col("s")),
                4,
            ).alias("twap"),
            bigint(F.count(F.lit(1))).alias("n_intervals"),
        )
    )


@op(
    "win_sliding_distinct_users",
    oracle="""
WITH du AS (
  SELECT DISTINCT (epoch_us(ts) // 1000000) // 86400 AS day, user_id
  FROM events
),
win AS (
  SELECT day,
         count(DISTINCT user_id) OVER (
           ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           AS users_7d
  FROM du
)
SELECT CAST(day AS BIGINT) AS day, CAST(users_7d AS BIGINT) AS users_7d
FROM win GROUP BY day, users_7d ORDER BY day
""",
    category=CAT,
)
def win_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the sliding
    DISTINCT aggregate Spark's window API lacks natively.

    Round-3 rewrite, fully distributed: instead of a single-partition
    `collect_set` range window over the whole (day, user) relation
    (which serializes on one task and materializes user sets), each
    active (day, user) pair CONTRIBUTES to the seven output days
    [day, day+6]; exploding the contribution days turns the sliding
    distinct into two plain keyed aggregations — distinct
    (contrib_day, user), then count per contrib_day — restricted to
    days that actually occur.  Every stage shuffles on a key; nothing
    is ever globally ordered.  At 100 TB the same shape holds (the 7x
    explode is the window length, a constant); the sketch path for
    huge cardinalities remains `agg_hll_sketch`."""
    du = (
        load(spark, sf_dir, "events")
        .select(
            (epoch_s("ts") / F.lit(86400)).cast("bigint").alias("day"), "user_id"
        )
        .distinct()
    )
    days = du.select("day").distinct()
    contrib = du.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
        "user_id",
    ).distinct()
    counts = contrib.groupBy("day").agg(
        bigint(F.count(F.lit(1))).alias("users_7d")
    )
    return (
        counts.join(days, "day", "left_semi")
        .select(bigint(F.col("day")).alias("day"), "users_7d")
        .orderBy("day")
    )


@op(
    "win_nth_value_cume",
    oracle="""
SELECT c_nationkey, c_custkey,
       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
       CAST(nth_value(c_custkey, 3) OVER (
              PARTITION BY c_nationkey
              ORDER BY round(c_acctbal * 100) DESC, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS BIGINT) AS third_richest,
       round(cume_dist() OVER (
              PARTITION BY c_nationkey
              ORDER BY round(c_acctbal * 100) DESC, c_custkey), 4) AS cd
FROM customer
""",
    category=CAT,
)
def win_nth_value_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the full-partition frame (the 3rd-richest
    customer's key broadcast to every row of its nation) plus
    cume_dist — the two §2.5 window functions not yet covered.  The
    window order is made total with the integer-cents balance plus the
    key tie-break, so cume_dist is the exact rational rank/n in both
    engines (same IEEE division) and nth_value is deterministic.
    One window shuffle by nation; partitions are nation-bounded."""
    cust = load(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("bal_cents"), "c_custkey")
    return (
        cust.select("c_nationkey", "c_custkey", cents.alias("bal_cents"))
        .withColumn(
            "third_richest",
            bigint(
                F.nth_value("c_custkey", 3).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
                )
            ),
        )
        .withColumn("cd", r4(F.cume_dist().over(w)))
    )


@op(
    "ids_global_contiguous",
    oracle="""
WITH r AS (SELECT o_orderkey,
                  row_number() OVER (ORDER BY o_orderkey) - 1 AS id
           FROM orders)
SELECT CAST(id % 8 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(id) AS BIGINT) AS id_sum,
       CAST(min(id) AS BIGINT) AS id_min,
       CAST(max(id) AS BIGINT) AS id_max,
       CAST(sum(id * (o_orderkey % 97)) AS BIGINT) AS chk
FROM r GROUP BY bucket
""",
    category=CAT,
)
def ids_global_contiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ids 0..n-1 in key order WITHOUT a
    single-partition sort — the standard two-pass pattern every
    training-data pipeline needs before sharding/packing: range-
    partition by the key, rank locally within each partition, then add
    per-partition offsets (a #partitions-row running sum, broadcast
    back).  The naive `row_number() OVER (ORDER BY k)` is a one-task
    global sort at 100 TB; this shape keeps every step distributed.

    The resulting id equals the global rank regardless of where the
    range boundaries land (ranges are ordered, ranks are local), so
    the output is deterministic even though repartitionByRange samples
    boundaries.  The checksum aggregate proves ids are exactly the
    dense 0..n-1 sequence in o_orderkey order."""
    src = load(spark, sf_dir, "orders").select("o_orderkey")
    p = src.repartitionByRange(range_parts(spark), "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    local = F.row_number().over(Window.partitionBy("pid").orderBy("o_orderkey"))
    ranked = p.withColumn("local_rn", local)
    counts = ranked.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = counts.withColumn(
        "off", F.sum("cnt").over(Window.orderBy("pid")) - F.col("cnt")
    ).select("pid", "off")
    ids = ranked.join(F.broadcast(offsets), "pid").select(
        "o_orderkey", (F.col("off") + F.col("local_rn") - 1).alias("id")
    )
    return ids.groupBy((F.col("id") % 8).cast("bigint").alias("bucket")).agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("id")).alias("id_sum"),
        bigint(F.min("id")).alias("id_min"),
        bigint(F.max("id")).alias("id_max"),
        bigint(F.sum(F.col("id") * (F.col("o_orderkey") % 97))).alias("chk"),
    )


@op(
    "win_lead_lag_ignore_nulls",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         CASE WHEN event_type = 'click'
              THEN CAST(round(value * 100) AS BIGINT) END AS click_cents
  FROM events
)
SELECT user_id, event_id,
       CAST(lag(click_cents IGNORE NULLS) OVER w AS BIGINT)  AS prev_click,
       CAST(lead(click_cents IGNORE NULLS) OVER w AS BIGINT) AS next_click
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
""",
    category=CAT,
)
def win_lead_lag_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag with IGNORE NULLS over a sparse column: for every
    event, the nearest preceding and following *click* value —
    navigation that skips nulls instead of landing on them (the
    "nearest sparse observation" primitive; plain lead/lag(1) would
    return NULL whenever the physical neighbor isn't a click).
    One user-keyed window shuffle; both directions ride the same
    sort."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("t"),
        F.when(
            F.col("event_type") == "click",
            F.round(F.col("value") * 100).cast("bigint"),
        ).alias("click_cents"),
    )
    return ev.select(
        "user_id",
        "event_id",
        bigint(
            F.expr(
                "lag(click_cents) IGNORE NULLS OVER "
                "(PARTITION BY user_id ORDER BY t, event_id)"
            )
        ).alias("prev_click"),
        bigint(
            F.expr(
                "lead(click_cents) IGNORE NULLS OVER "
                "(PARTITION BY user_id ORDER BY t, event_id)"
            )
        ).alias("next_click"),
    )


@op(
    "features_multi_horizon",
    oracle="""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
w AS (
  SELECT user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY us
                        RANGE BETWEEN 3600000000 PRECEDING
                              AND CURRENT ROW) AS c1h,
         count(*) OVER (PARTITION BY user_id ORDER BY us
                        RANGE BETWEEN 21600000000 PRECEDING
                              AND CURRENT ROW) AS c6h,
         count(*) OVER (PARTITION BY user_id ORDER BY us
                        RANGE BETWEEN 86400000000 PRECEDING
                              AND CURRENT ROW) AS c24h
  FROM e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(c1h) AS BIGINT) AS peak_1h,
       CAST(max(c6h) AS BIGINT) AS peak_6h,
       CAST(max(c24h) AS BIGINT) AS peak_24h
FROM w GROUP BY user_id
""",
    category=CAT,
)
def features_multi_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-horizon trailing-window features in ONE pass: per event,
    trailing 1h/6h/24h event counts via three RANGE frames over the
    same user-keyed sort, rolled up to each user's PEAK per horizon —
    the feature-store pattern (and the burst/bot signal: a peak_1h
    near peak_24h is a burst account).  RANGE frames make timestamp
    ties frame-peers in both engines, so the counts are order-stable
    without a tiebreaker.

    Scale: the three frames share one window sort (one Exchange + one
    Sort, three frame evaluators), then a user-keyed partial/final
    agg — adding horizons costs no extra shuffle."""
    ev = spread(load(spark, sf_dir, "events"))
    e = ev.select("user_id", F.expr("unix_micros(ts)").alias("us"))

    def frame(preceding_us: int):
        return (
            Window.partitionBy("user_id")
            .orderBy("us")
            .rangeBetween(-preceding_us, Window.currentRow)
        )

    w = e.select(
        "user_id",
        F.count(F.lit(1)).over(frame(3_600_000_000)).alias("c1h"),
        F.count(F.lit(1)).over(frame(21_600_000_000)).alias("c6h"),
        F.count(F.lit(1)).over(frame(86_400_000_000)).alias("c24h"),
    )
    return w.groupBy("user_id").agg(
        bigint(F.count(F.lit(1))).alias("n_events"),
        bigint(F.max("c1h")).alias("peak_1h"),
        bigint(F.max("c6h")).alias("peak_6h"),
        bigint(F.max("c24h")).alias("peak_24h"),
    )
