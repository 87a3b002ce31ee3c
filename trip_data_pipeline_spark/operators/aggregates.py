"""§2.4 Aggregations (SURVEY.md §2.4).

All hash-aggregates in Spark execute as partial (map-side combine) +
final (post-shuffle) automatically — the §2.4 note's partial/final
requirement is covered by construction.  At 100 TB the shuffle carries
only the grouped partial states (|groups| x |aggs|), not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import (
    _duck_words,
    _words,
    as_date,
    bigint,
    duck_hex_int,
    hex_int,
    r2,
    r4,
    spread,
)
from trip_data_pipeline_spark.registry import op

CAT = "2.4 aggregation"


@op(
    "agg_pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                           AS sum_qty,
  round(sum(l_extendedprice), 2)                                      AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2)                   AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)     AS sum_charge,
  round(avg(l_quantity), 2)                                           AS avg_qty,
  round(avg(l_extendedprice), 2)                                      AS avg_price,
  round(avg(l_discount), 2)                                           AS avg_disc,
  CAST(count(*) AS BIGINT)                                            AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
    category=CAT,
    pure=True,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (TPC-H-Q1-style) pricing summary — SURVEY.md §2.4 row 1.

    Scan -> filter (pushed to parquet) -> partial+final hash agg.
    Scale note: 3x2 groups means the shuffle moves ~6 partial-state rows
    per map task regardless of input size — this plan is 100-TB-safe.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(as_date(F.col("l_shipdate")) <= F.lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r2(F.sum("l_quantity")).alias("sum_qty"),
            r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            r2(F.sum(disc_price)).alias("sum_disc_price"),
            r2(F.sum(charge)).alias("sum_charge"),
            r2(F.avg("l_quantity")).alias("avg_qty"),
            r2(F.avg("l_extendedprice")).alias("avg_price"),
            r2(F.avg("l_discount")).alias("avg_disc"),
            bigint(F.count(F.lit(1))).alias("count_order"),
        )
    )


@op(
    "agg_global",
    oracle="""
SELECT
  round(min(l_quantity), 2)        AS min_qty,
  round(max(l_extendedprice), 2)   AS max_price,
  round(sum(l_extendedprice), 2)   AS sum_price,
  CAST(count(*) AS BIGINT)         AS n_rows,
  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
""",
    category=CAT,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-GROUP-BY) aggregate — SURVEY.md §2.4 row 2."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        r2(F.min("l_quantity")).alias("min_qty"),
        r2(F.max("l_extendedprice")).alias("max_price"),
        r2(F.sum("l_extendedprice")).alias("sum_price"),
        bigint(F.count(F.lit(1))).alias("n_rows"),
        bigint(F.countDistinct("l_orderkey")).alias("n_orders"),
    )


@op(
    "agg_count_distinct",
    oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
    category=CAT,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — SURVEY.md §2.4 row 3.

    Spark expands this to a two-phase partial-distinct aggregate (expand
    + two shuffles) — scale-safe without driver materialization.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(bigint(F.countDistinct("user_id")).alias("n_users"))


@op(
    "agg_multi_distinct",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT)          AS n_users,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
FROM events GROUP BY event_type
""",
    category=CAT,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two distinct aggregates in one grouping — SURVEY.md §2.4 row 4."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        bigint(F.countDistinct("user_id")).alias("n_users"),
        bigint(F.countDistinct(F.to_date("ts"))).alias("n_days"),
    )


@op(
    "agg_stats",
    oracle="""
SELECT event_type,
       round(avg(value), 2)          AS avg_value,
       round(stddev_samp(value), 2)  AS sd_value,
       round(var_samp(value), 2)     AS var_value,
       round(min(value), 2)          AS min_value,
       round(max(value), 2)          AS max_value,
       CAST(count(*) AS BIGINT)      AS n
FROM events GROUP BY event_type
""",
    category=CAT,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (sample stddev/variance) — SURVEY.md §2.4
    row 5; ddof=1 on both sides (§5.3 rule 6)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        r2(F.avg("value")).alias("avg_value"),
        r2(F.stddev_samp("value")).alias("sd_value"),
        r2(F.var_samp("value")).alias("var_value"),
        r2(F.min("value")).alias("min_value"),
        r2(F.max("value")).alias("max_value"),
        bigint(F.count(F.lit(1))).alias("n"),
    )


@op(
    "agg_having",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
HAVING count(*) > 1900
""",
    category=CAT,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation group filter (HAVING) — SURVEY.md §2.4 row 6."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(bigint(F.count(F.lit(1))).alias("n"))
        .filter(F.col("n") > 1900)
    )


@op(
    "agg_grouping_sets",
    oracle="""
SELECT lang, source,
       CAST(count(*) AS BIGINT)             AS n_docs,
       CAST(GROUPING(lang, source) AS BIGINT) AS gid
FROM documents
GROUP BY GROUPING SETS ((lang, source), (lang), ())
""",
    category=CAT,
    pure=True,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id — SURVEY.md §2.4 row 7."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupingSets(
        [["lang", "source"], ["lang"], []], "lang", "source"
    ).agg(
        bigint(F.count(F.lit(1))).alias("n_docs"),
        bigint(F.grouping_id()).alias("gid"),
    )


@op(
    "agg_rollup",
    oracle="""
SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers
FROM customer
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    category=CAT,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — SURVEY.md §2.4 row 8.

    Dims are broadcast (25 / 5 rows) so only the rollup agg shuffles.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        bigint(F.count(F.lit(1))).alias("n_customers")
    )


@op(
    "agg_cube",
    oracle="""
SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY CUBE (event_type, CAST(ts AS DATE))
""",
    category=CAT,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day) — SURVEY.md §2.4 row 9."""
    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return ev.cube("event_type", "day").agg(bigint(F.count(F.lit(1))).alias("n"))


@op("agg_approx_distinct", oracle=None, category=CAT)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approx distinct — SURVEY.md §2.4 row 10.

    rows-only: sketch estimates differ across engines by design.  At
    100 TB this is THE distinct-count operator (fixed-size sketch vs the
    exact expand+two-shuffle path); rsd pinned for determinism.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        bigint(F.approx_count_distinct("user_id", 0.02)).alias("approx_users")
    )


@op(
    "agg_conditional",
    oracle="""
SELECT user_id % 10 AS user_bucket,
       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase_value,
       round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END), 2) AS view_value,
       CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_clicks
FROM events GROUP BY user_id % 10
""",
    category=CAT,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (pivot-style) aggregation — SURVEY.md §2.4 row 11."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .agg(
            r2(F.sum(F.when(F.col("event_type") == "purchase", F.col("value")))).alias(
                "purchase_value"
            ),
            r2(
                F.sum(F.when(F.col("event_type") == "view", F.col("value")).otherwise(0.0))
            ).alias("view_value"),
            bigint(F.count(F.when(F.col("event_type") == "click", F.lit(1)))).alias(
                "n_clicks"
            ),
        )
    )


@op(
    "agg_max_by_min_by",
    oracle="""
WITH e AS (SELECT event_type, event_id, value,
                  CAST(round(value * 100) AS BIGINT) * 10000000 + event_id AS ord
           FROM events)
SELECT event_type,
       CAST(arg_max(event_id, ord) AS BIGINT) AS top_event_id,
       CAST(arg_min(event_id, ord) AS BIGINT) AS bottom_event_id
FROM e GROUP BY event_type
""",
    category=CAT,
)
def agg_max_by_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional aggregates max_by/min_by (DuckDB arg_max/arg_min) —
    the ordering key embeds event_id so value ties are broken totally
    (§5.3 rule 7)."""
    ev = load(spark, sf_dir, "events")
    ordc = F.round(F.col("value") * 100, 0).cast("bigint") * 10000000 + F.col(
        "event_id"
    )
    e = ev.select("event_type", "event_id", ordc.alias("ord"))
    return e.groupBy("event_type").agg(
        bigint(F.max_by("event_id", F.col("ord"))).alias("top_event_id"),
        bigint(F.min_by("event_id", F.col("ord"))).alias("bottom_event_id"),
    )


@op(
    "agg_collect_sorted",
    oracle="""
SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',')
                AS types
FROM events GROUP BY user_id
""",
    category=CAT,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregate with deterministic order:
    sort_array(collect_set(...)) — §5.3 rule 7 forbids hashing raw
    collect_list order.  Projected comma-joined: the driver's pandas
    canonicalizer cannot sort raw ArrayType cells (CORRECTNESS_r03)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types")
    )


@op(
    "agg_percentile_exact",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90
FROM events GROUP BY event_type
""",
    category=CAT,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles: Spark percentile == DuckDB
    quantile_cont (both linear interpolation on the sorted set)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        r4(F.percentile("value", 0.5)).alias("p50"),
        r4(F.percentile("value", 0.9)).alias("p90"),
    )


@op("agg_percentile_approx", oracle=None, category=CAT)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch (rows-only: sketch values are
    engine-specific).  At 100 TB this replaces the exact sort-based
    percentile: bounded-memory KLL/GK sketch, one shuffle of sketches."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_percentile("value", 0.5, 10000).alias("p50_approx"),
        F.approx_percentile("value", 0.9, 10000).alias("p90_approx"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@op(
    "pivot_wide",
    oracle="""
SELECT user_id % 10 AS user_bucket,
       round(sum(CASE WHEN event_type = 'click'    THEN value END), 2) AS click,
       round(sum(CASE WHEN event_type = 'error'    THEN value END), 2) AS error,
       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
       round(sum(CASE WHEN event_type = 'signup'   THEN value END), 2) AS signup,
       round(sum(CASE WHEN event_type = 'view'     THEN value END), 2) AS view
FROM events GROUP BY 1
""",
    category=CAT,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot with an explicit value list (no discovery scan) — wide
    conditional aggregation."""
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", _EVENT_TYPES)
        .agg(r2(F.sum("value")))
    )
    return piv


@op(
    "unpivot_stack",
    oracle="""
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'price', p_retailprice FROM part
""",
    category=CAT,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot via stack() — wide-to-long reshaping."""
    p = load(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), 'price', p_retailprice) AS (metric, val)",
    )


@op(
    "agg_string_concat_sorted",
    oracle="""
SELECT n_nationkey,
       string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segs
FROM nation
JOIN customer ON c_nationkey = n_nationkey
WHERE c_custkey <= 200
GROUP BY n_nationkey
ORDER BY n_nationkey
""",
    category=CAT,
)
def agg_string_concat_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg semantics) made
    deterministic: collect_list -> sort_array -> concat_ws, so the
    result is order-independent of partitioning — the only way a
    distributed string_agg can be reproducible."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_list("c_mktsegment"))
            ).alias("segs")
        )
        .orderBy("n_nationkey")
    )


@op(
    "agg_bitwise",
    oracle="""
SELECT l_linestatus,
       bit_and(CAST(l_orderkey % 4096 AS BIGINT)) AS b_and,
       bit_or(CAST(l_orderkey % 4096 AS BIGINT))  AS b_or,
       bit_xor(CAST(l_orderkey % 4096 AS BIGINT)) AS b_xor
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
    category=CAT,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_and/bit_or/bit_xor) — order- and
    partition-insensitive folds, so they distribute with plain
    partial+final aggregation."""
    li = load(spark, sf_dir, "lineitem")
    k = (F.col("l_orderkey") % 4096).cast("bigint")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.bit_and(k).alias("b_and"),
            F.bit_or(k).alias("b_or"),
            F.bit_xor(k).alias("b_xor"),
        )
        .orderBy("l_linestatus")
    )


@op(
    "agg_median_mode",
    oracle="""
WITH counts AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
modes AS (
  SELECT c_nationkey, c_mktsegment AS mode_seg,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY n DESC, c_mktsegment) AS rn
  FROM counts
)
SELECT c.c_nationkey,
       CAST(median(CAST(round(c.c_acctbal * 100) AS BIGINT)) * 2 AS BIGINT)
           AS med_bal_halfcents,
       any_value(m.mode_seg)         AS mode_seg
FROM customer c
JOIN modes m ON m.c_nationkey = c.c_nationkey AND m.rn = 1
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
""",
    category=CAT,
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (= percentile 0.5, linear interpolation — same rule
    as DuckDB's quantile_cont) plus a DETERMINISTIC mode: built-in
    mode() breaks ties arbitrarily, so ties are broken by
    (count DESC, value ASC) via max_by over a struct — reproducible
    across partitionings, which a distributed mode must be.

    The median is computed in integer CENTS and reported x2
    (half-cent units): even-count groups interpolate to k+0.5 cents,
    which doubled is exact in int64 — no float round-off to disagree
    on.  Rounding the interpolated double instead fails at sf0.1
    (x.xx5 boundaries round differently per engine — §5.3 rule 1's
    float-origin caveat, found by the sf0.1 gate)."""
    c = load(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("n"))
    # min over (-n, segment): highest count first, then smallest value
    modes = counts.groupBy("c_nationkey").agg(
        F.expr("min_by(c_mktsegment, struct(-n, c_mktsegment))").alias("mode_seg")
    )
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    med = c.groupBy("c_nationkey").agg(
        (F.median(cents) * 2).cast("bigint").alias("med_bal_halfcents")
    )
    return (
        med.join(modes, "c_nationkey")
        .select("c_nationkey", "med_bal_halfcents", "mode_seg")
        .orderBy("c_nationkey")
    )


@op("agg_hll_sketch", oracle=None, category=CAT)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Datasketches): per-type user sketches via
    hll_sketch_agg, then hll_union_agg folds them to a global estimate —
    the re-aggregatable rollup pattern (store sketches per partition,
    union at query time) that exact count-distinct can't do at scale.
    Rows-only: sketch estimates are engine-specific; the companion
    property test bounds the error vs the exact count."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        bigint(F.count_distinct("user_id")).alias("exact_users"),
    )
    per_type.createOrReplaceTempView("_hll_per_type")
    return spark.sql(
        """
        SELECT event_type,
               CAST(hll_sketch_estimate(sk) AS BIGINT) AS approx_users,
               exact_users
        FROM _hll_per_type
        UNION ALL
        SELECT '_all', CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM _hll_per_type
        ORDER BY event_type
        """
    )


@op(
    "agg_corr_regr",
    oracle="""
SELECT l_returnflag,
       round(corr(l_extendedprice, l_quantity), 4)           AS corr_price_qty,
       round(covar_samp(l_extendedprice, l_quantity), 2)     AS covar_s,
       round(covar_pop(l_extendedprice, l_quantity), 2)      AS covar_p,
       round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
""",
    category=CAT,
)
def agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates: correlation, covariance
    (sample+population), and simple linear regression slope/intercept,
    per group.  All are one-pass partial-aggregatable moments (sum,
    sum^2, cross-sum) so the shuffle carries O(groups) state — the
    same plan shape as agg_stats, just wider moment vectors.  Both
    engines use (y, x) argument order for regr_*."""
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        r4(F.corr(y, x)).alias("corr_price_qty"),
        r2(F.covar_samp(y, x)).alias("covar_s"),
        r2(F.covar_pop(y, x)).alias("covar_p"),
        r4(F.regr_slope(y, x)).alias("slope"),
        r2(F.regr_intercept(y, x)).alias("intercept"),
        bigint(F.regr_count(y, x)).alias("n"),
    )


@op(
    "agg_percentile_disc",
    oracle="""
WITH t AS (
  SELECT event_type, value,
         cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
  FROM events WHERE value IS NOT NULL
)
SELECT event_type,
       min(CASE WHEN cd >= 0.5 THEN value END) AS p50_disc,
       min(CASE WHEN cd >= 0.9 THEN value END) AS p90_disc
FROM t GROUP BY event_type
""",
    category=CAT,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (smallest value whose cume_dist >= p — the
    SQL-standard PERCENTILE_DISC definition, which the oracle spells
    out via cume_dist so no engine-specific quantile interpolation is
    involved).  Returns actual data values, so no rounding is needed:
    the selected doubles are bit-identical across engines.

    NULL values are filtered BEFORE the groupBy to mirror the oracle's
    WHERE value IS NOT NULL (ADVICE r8): relying on percentile_disc's
    implicit NULL-skip alone is asymmetric — a group whose values are
    all NULL would emit a (type, NULL, NULL) row here but no row at
    all in the oracle.  With the symmetric filter such groups vanish
    identically on both sides."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50_disc"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90_disc"),
    )


@op(
    "agg_boolean_countif",
    oracle="""
SELECT event_type,
       bool_and(value > 0)                    AS all_positive,
       bool_or(value > 100)                   AS any_large,
       CAST(count_if(value > 50) AS BIGINT)   AS n_over_50,
       CAST(count_if(value IS NULL) AS BIGINT) AS n_null
FROM events GROUP BY event_type
""",
    category=CAT,
)
def agg_boolean_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional-count aggregates (bool_and / bool_or /
    count_if) — data-quality assertion primitives, all partial-
    aggregatable to 1-bit/1-long state per group."""
    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    return ev.groupBy("event_type").agg(
        F.bool_and(v > 0).alias("all_positive"),
        F.bool_or(v > 100).alias("any_large"),
        bigint(F.count_if(v > 50)).alias("n_over_50"),
        bigint(F.count_if(v.isNull())).alias("n_null"),
    )


@op(
    "skyline_pareto_per_group",
    oracle="""
WITH pts AS (
  SELECT c.c_mktsegment, c.c_custkey,
         CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
         CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2, 3
),
w AS (
  SELECT *,
         max(n_orders) OVER (PARTITION BY c_mktsegment ORDER BY bal_cents DESC
                             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS m_strict,
         max(n_orders) OVER (PARTITION BY c_mktsegment, bal_cents) AS m_tie
  FROM pts
)
SELECT c_mktsegment, c_custkey, bal_cents, n_orders
FROM w
WHERE NOT (COALESCE(m_strict >= n_orders, FALSE) OR m_tie > n_orders)
""",
    category=CAT,
)
def skyline_pareto_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline per market segment: customers not dominated on
    (account balance, order count) — multi-criteria top-set analytics
    (a point is dominated if another is >= on both axes and > on one).

    O(n log n) window formulation instead of the quadratic dominance
    self-join: sort each group by balance descending; a point is
    dominated iff the max order-count over strictly-higher balances
    reaches its own (``RANGE ... 1 PRECEDING`` on the integer-cents
    key = bal' > bal exactly) or a same-balance point strictly beats
    it.  Integer cents keep the range frame and every comparison
    engine-exact.

    Scale: one shuffle on the group key, then a per-group sort —
    the skyline never materializes candidate pairs, vs the self-join
    form whose intermediate is O(n^2) per group."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    pts = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(
            "c_mktsegment",
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("bal_cents"),
        )
        .agg(bigint(F.count("o_orderkey")).alias("n_orders"))
    )
    w_strict = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.col("bal_cents").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_tie = Window.partitionBy("c_mktsegment", "bal_cents")
    w = pts.select(
        "*",
        F.max("n_orders").over(w_strict).alias("m_strict"),
        F.max("n_orders").over(w_tie).alias("m_tie"),
    )
    dominated = F.coalesce(
        F.col("m_strict") >= F.col("n_orders"), F.lit(False)
    ) | (F.col("m_tie") > F.col("n_orders"))
    return w.filter(~dominated).select(
        "c_mktsegment", "c_custkey", "bal_cents", "n_orders"
    )


@op(
    "freq_heavy_hitters_exact",
    oracle=f"""
WITH w AS (
  SELECT unnest({_duck_words()}) AS word FROM documents
),
tot AS (SELECT count(*) AS t FROM w),
cnt AS (SELECT word, count(*) AS n FROM w GROUP BY 1)
SELECT word, CAST(n AS BIGINT) AS cnt,
       CAST(n * 1000000 // t AS BIGINT) AS freq_ppm
FROM cnt, tot
WHERE n * 1000 > t
""",
    category=CAT,
)
def freq_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: words above 0.1% of total token
    mass — the vocabulary-pruning / stopword-discovery primitive
    (the exact two-pass counterpart of sketch-based heavy hitters:
    same output contract, checkable).

    Frequency is integer parts-per-million (``n*1e6 div total``) and
    the threshold test is cross-multiplied (``n*1000 > total``) — no
    division ever decides membership.

    Scale: one explode + partial/final count per word, plus a 1-row
    global total broadcast into the filter — no corpus-sized state on
    any single node, no second scan of the raw text (the word counts
    are reused for both threshold and output)."""
    d = spread(load(spark, sf_dir, "documents"))
    words = d.select(F.explode(_words()).alias("word"))
    cnt = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    tot = words.agg(F.count(F.lit(1)).alias("t"))
    return (
        cnt.join(F.broadcast(tot))
        .filter(F.col("n") * 1000 > F.col("t"))
        .select(
            "word",
            bigint(F.col("n")).alias("cnt"),
            # DECIMAL(38,0): a stopword's corpus-wide count at 100 TB
            # is ~1e13; 1e6x overflows int64 (round-7 ppm audit).
            bigint(
                F.expr(
                    "CAST((CAST(1000000 AS DECIMAL(38,0)) * n)"
                    " div t AS BIGINT)"
                )
            ).alias("freq_ppm"),
        )
    )


_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@op(
    "stat_crosstab_exact",
    oracle="""
SELECT c_mktsegment AS "c_mktsegment_o_orderpriority",
"""
    + ",\n".join(
        f"""       CAST(sum(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END) AS BIGINT) AS "{p}" """
        for p in _PRIOS
    )
    + """
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    category=CAT,
)
def stat_crosstab_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.stat.crosstab — the exact contingency-table API (market
    segment x order priority over the orders-customer join).  crosstab
    compiles to a pivoted count aggregate: one shuffle on the pair key
    with map-side partial counts, never a collect — the 5x5 result is
    tiny no matter the fact size.  The customer dim broadcasts into
    the fact join.  Column names are the raw priority values, matching
    the oracle's quoted aliases; counts are BIGINT in both engines."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    ct = j.stat.crosstab("c_mktsegment", "o_orderpriority")
    first = ct.columns[0]
    return ct.select(
        F.col(first),
        *[bigint(F.col(f"`{p}`")).alias(p) for p in _PRIOS],
    )


@op(
    "agg_bitmap_distinct",
    oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS nd
FROM events GROUP BY event_type
""",
    category=CAT,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark's bitmap aggregate family
    (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_count) — the mergeable-bitmap
    alternative to count(DISTINCT): group by (key, bucket), OR the
    32k-bit bucket bitmaps map-side, then sum the per-bucket
    popcounts.  Unlike approx_count_distinct this is exact, and unlike
    count(DISTINCT) the partial state is a fixed-size bitmap per
    bucket, so re-aggregation (rollups, incremental merges) composes —
    the same trick a segment-level OLAP store uses.  The oracle is the
    plain COUNT(DISTINCT)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("b"),
        F.expr("bitmap_bit_position(user_id)").alias("p"),
    )
    bm = ev.groupBy("event_type", "b").agg(
        F.expr("bitmap_construct_agg(p)").alias("bm")
    )
    return bm.groupBy("event_type").agg(
        bigint(F.expr("sum(bitmap_count(bm))")).alias("nd")
    )


@op(
    "agg_filter_clause",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS open_cents,
       CAST(max(o_orderdate) FILTER (WHERE o_orderstatus = 'F') AS DATE)
         AS last_f_date
FROM orders
GROUP BY o_orderpriority
""",
    category=CAT,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard-SQL FILTER (WHERE ...) aggregate clause — several
    differently-predicated aggregates in ONE grouping pass (the
    CASE-WHEN-less spelling of agg_conditional; both engines share the
    syntax verbatim).  Still a single partial/final hash aggregate:
    the filters evaluate per-row inside the agg expressions, no extra
    scan or join per predicate."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("ord_fc")
    return spark.sql(
        """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS open_cents,
       CAST(max(o_orderdate) FILTER (WHERE o_orderstatus = 'F') AS DATE)
         AS last_f_date
FROM ord_fc
GROUP BY o_orderpriority
"""
    )


@op(
    "agg_decimal_exact",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS DECIMAL(32,2)))
            AS VARCHAR) AS revenue,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS DECIMAL(32,2))
                * CAST(CAST(1 - l_discount AS DECIMAL(14,4)) AS DECIMAL(32,4)))
            AS VARCHAR) AS disc_revenue
FROM lineitem GROUP BY l_returnflag
""",
    category=CAT,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT decimal money aggregation — the type-system surface every
    other money op sidesteps with round(double, 2): prices are cast to
    DECIMAL at the scan and every sum/product stays in decimal
    arithmetic, so the totals are exact by type, not by rounding
    convention, and NO float ever exists in the plan.  Sums are
    projected as strings because the two engines give sum(DECIMAL)
    different result scales/precisions (Spark grows precision by 10,
    DuckDB to 38) — the VALUE is identical, and a fixed-scale string
    is the portable encoding (trailing-zero-exact since both sides
    share the input scale).

    Scale shape: decimal sums are mergeable fixed-width integer state
    — the same partial/final shape as long sums, immune to the
    double-sum order noise SURVEY §5.3 rule 1 exists to suppress."""
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(14,2)").cast("decimal(32,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(14,4)").cast("decimal(32,4)")
    return li.groupBy("l_returnflag").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        F.sum(price).cast("string").alias("revenue"),
        F.sum(price * disc).cast("string").alias("disc_revenue"),
    )


# Count-min sketch geometry: 4 hash rows x 64 counters.  The hash
# family reuses the md5-substring integers every MinHash op shares, so
# DuckDB replays the sketch bit-for-bit — a sketch op with a FULL
# value-hash oracle (vs the declared-rows-only HLL/approx ops).
_CMS_D, _CMS_W = 4, 64

_CMS_STARTS = (1, 8, 15, 22)

_CMS_PROBES = ("a", "the", "value", "data", "table")


def _duck_cms_bucket(expr: str) -> str:
    return (
        "(CASE j "
        + " ".join(
            f"WHEN {j} THEN {duck_hex_int(expr, s, 7)}"
            for j, s in enumerate(_CMS_STARTS)
        )
        + f" END) % {_CMS_W}"
    )


@op(
    "agg_count_min_sketch",
    oracle=f"""
WITH tok AS (SELECT unnest({_duck_words()}) AS w FROM documents),
js AS (SELECT unnest(range(0, {_CMS_D})) AS j),
h AS (SELECT w, j, {_duck_cms_bucket('md5(w)')} AS b FROM tok CROSS JOIN js),
sk AS (SELECT j, b, count(*) AS c FROM h GROUP BY j, b),
pr AS (SELECT unnest(['a','the','value','data','table']) AS w),
ph AS (SELECT w, j, {_duck_cms_bucket('md5(w)')} AS b FROM pr CROSS JOIN js),
est AS (
  SELECT ph.w, min(sk.c) AS cms_est
  FROM ph JOIN sk ON sk.j = ph.j AND sk.b = ph.b
  GROUP BY ph.w
),
tr AS (SELECT w, count(*) AS true_n FROM tok GROUP BY w)
SELECT est.w AS word,
       CAST(coalesce(tr.true_n, 0) AS BIGINT) AS true_n,
       CAST(est.cms_est AS BIGINT) AS cms_est,
       CAST(est.cms_est - coalesce(tr.true_n, 0) AS BIGINT) AS overcount
FROM est LEFT JOIN tr ON tr.w = est.w
""",
    category=CAT,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) with a FULL
    value-hash oracle: 4x64 counters over the corpus token stream,
    hash family = the md5-substring integers the MinHash ops already
    share with DuckDB, so the sketch — and its one-sided overcounts —
    replay bit-for-bit in both engines.  Probes 5 common words and
    reports estimate vs truth (overcount >= 0 always; the sketch
    guarantee).  This is the counterpoint to agg_approx_distinct /
    agg_hll_sketch: when the hash family is portable, a sketch is NOT
    structurally rows-only.

    Scale: the sketch state is CONSTANT-SIZE (256 counters) — the
    groupBy(j, b) partial-aggregates map-side down to <= 256 rows per
    partition before one tiny shuffle; probes then hit a broadcast of
    the 256-row sketch.  This is exactly how a heavy-hitters pass over
    100 TB bounds memory."""
    tok = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        F.explode(_words()).alias("w")
    )

    def buckets(wcol):
        return F.posexplode(
            F.array(
                *[
                    (hex_int(F.md5(wcol), s, 7) % _CMS_W)
                    for s in _CMS_STARTS
                ]
            )
        ).alias("j", "b")

    sk = (
        tok.select(buckets(F.col("w")))
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pr = spark.createDataFrame([(w,) for w in _CMS_PROBES], "w string")
    ph = pr.select("w", buckets(F.col("w")))
    est = (
        ph.join(F.broadcast(sk), ["j", "b"])
        .groupBy("w")
        .agg(F.min("c").alias("cms_est"))
    )
    # Round-12 (guide §2.3: don't compute things you throw away): the
    # truth arm used to aggregate the WHOLE token stream by word — a
    # full distinct-token shuffle — while the left join consumes true
    # counts for exactly the 5 probe words.  Filtering to the probe set
    # before counting leaves those counts identical and turns the
    # truth arm into a constant-width aggregation; at 100 TB that is
    # the difference between a corpus-vocabulary shuffle and a 5-row
    # one (locally neutral: the sketch arm dominates at sf0.1).
    tr = (
        tok.filter(F.col("w").isin(list(_CMS_PROBES)))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    return (
        est.join(tr, "w", "left")
        .select(
            F.col("w").alias("word"),
            bigint(F.coalesce(F.col("true_n"), F.lit(0))).alias("true_n"),
            bigint(F.col("cms_est")).alias("cms_est"),
            bigint(
                F.col("cms_est") - F.coalesce(F.col("true_n"), F.lit(0))
            ).alias("overcount"),
        )
    )


@op(
    "agg_weighted_avg_exact",
    oracle=f"""
WITH q AS (
  SELECT lang,
         len({_duck_words()}) AS w,
         1000000 * len(list_distinct({_duck_words()}))
           // len({_duck_words()}) AS x_ppm
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS w_total,
       CAST(sum(w * x_ppm) // sum(w) AS BIGINT) AS wmean_ppm
FROM q GROUP BY lang
""",
    category=CAT,
)
def agg_weighted_avg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted mean of a per-doc quality score (unique-token
    ppm), per language, as the exact integer sum(w*x) div sum(w) —
    corpus statistics must be token-weighted, not doc-weighted (a
    10-token doc must not count like a 10k-token doc), and the
    cross-multiplied integer form keeps the report engine-exact where
    a float weighted mean drifts with partial-agg order.

    Scale: map-side (w, w*x) products, one partial/final agg —
    mergeable integer state, the same shape as any weighted metric
    rollup."""
    d = spread(load(spark, sf_dir, "documents"))
    ws = _words()
    q = d.select(
        "lang",
        F.size(ws).alias("w"),
        F.size(F.array_distinct(ws)).alias("nd"),
    ).select("lang", "w", F.expr("1000000 * nd div w").alias("x_ppm"))
    return (
        q.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("w_total"),
            F.sum(F.col("w") * F.col("x_ppm")).alias("wx"),
        )
        .select(
            "lang",
            bigint(F.col("n_docs")).alias("n_docs"),
            bigint(F.col("w_total")).alias("w_total"),
            bigint(F.expr("wx div w_total")).alias("wmean_ppm"),
        )
    )


@op(
    "agg_hhi_concentration",
    oracle="""
WITH rev AS (
  SELECT l_suppkey AS sk,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS sc
  FROM lineitem GROUP BY l_suppkey
),
j AS (
  SELECT s_nationkey AS nk, sc,
         1000000 * sc // sum(sc) OVER (PARTITION BY s_nationkey)
           AS share_ppm
  FROM rev JOIN supplier ON s_suppkey = sk
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(sc) AS BIGINT) AS total_cents,
       CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm
FROM j JOIN nation ON n_nationkey = nk
GROUP BY n_name
""",
    category=CAT,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue-concentration index per nation:
    each supplier's revenue share of its nation in exact ppm (floor
    div on integer cents), HHI = sum(share^2) rescaled back to ppm.
    The concentration report behind 'is this market/source dominated
    by one supplier' — for corpus work the identical shape answers
    'is this language slice dominated by one domain' before a
    dedup/mixture decision.

    Scale: one supplier-keyed partial/final agg over the fact (the
    only fact-sized shuffle), a broadcast dim join, a nation-keyed
    window over supplier rows (dim-sized), and a <= 25-row final agg.
    Floor-div share quantization is deterministic in both engines."""
    li = spread(load(spark, sf_dir, "lineitem"))
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    cents = F.expr(
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
    )
    rev = (
        li.select(F.col("l_suppkey").alias("sk"), cents.alias("c"))
        .groupBy("sk")
        .agg(F.sum("c").alias("sc"))
    )
    j = rev.join(F.broadcast(sup), rev.sk == sup.s_suppkey).select(
        F.col("s_nationkey").alias("nk"), "sc"
    )
    shared = j.select(
        "nk",
        "sc",
        F.expr("1000000 * sc").alias("scaled"),
        F.sum("sc").over(Window.partitionBy("nk")).alias("nat_total"),
    ).select("nk", "sc", F.expr("scaled div nat_total").alias("share_ppm"))
    per_nat = shared.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("sc").alias("total_cents"),
        F.sum(F.expr("share_ppm * share_ppm")).alias("hhi_raw"),
    )
    return per_nat.join(
        F.broadcast(nat), per_nat.nk == nat.n_nationkey
    ).select(
        "n_name",
        bigint(F.col("n_suppliers")).alias("n_suppliers"),
        bigint(F.col("total_cents")).alias("total_cents"),
        bigint(F.expr("hhi_raw div 1000000")).alias("hhi_ppm"),
    )


@op(
    "agg_weighted_median_exact",
    oracle=f"""
WITH q AS (
  SELECT doc_id, lang,
         len({_duck_words()}) AS w,
         1000000 * len(list_distinct({_duck_words()}))
           // len({_duck_words()}) AS x
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT lang, w, x,
         sum(w) OVER (PARTITION BY lang ORDER BY x, doc_id
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         sum(w) OVER (PARTITION BY lang) AS total_w
  FROM q
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_qualifying,
       CAST(min(total_w) AS BIGINT) AS w_total,
       CAST(min(x) AS BIGINT) AS wmedian_ppm
FROM c WHERE 2 * cumw >= total_w
GROUP BY lang
""",
    category=CAT,
)
def agg_weighted_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-weighted MEDIAN of per-doc quality per language:
    sort docs by (score, doc_id) within language, running weight sum,
    the median is the first score whose cumulative weight reaches half
    the total — expressed as min(x) over qualifying rows, which is
    deterministic because cumw is monotone along the sort.  The robust
    companion to the weighted mean (agg_weighted_avg_exact): one
    mega-doc can drag a mean but not this.

    Scale: one lang-keyed window sort + running sum, then a
    partial/final agg — the classic exact-distributed-median shape
    (no collect, no iterative quantile probing); the doc_id tiebreak
    makes the sort total so the answer is replayable."""
    # NULL-text docs have no weight/score — excluded in BOTH engines
    # (round-8 NULL-payload sweep: the NULL x row shifts cumw
    # positions differently under each engine's NULL ordering)
    d = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).filter(
        F.col("text").isNotNull()
    )
    ws = _words()
    q = d.select(
        "doc_id",
        "lang",
        F.size(ws).alias("w"),
        F.size(F.array_distinct(ws)).alias("nd"),
    ).select(
        "doc_id", "lang", "w", F.expr("1000000 * nd div w").alias("x")
    )
    cum = (
        Window.partitionBy("lang")
        .orderBy("x", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = q.select(
        "lang",
        "w",
        "x",
        F.sum("w").over(cum).alias("cumw"),
        F.sum("w").over(Window.partitionBy("lang")).alias("total_w"),
    )
    return (
        c.filter(2 * F.col("cumw") >= F.col("total_w"))
        .groupBy("lang")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_qualifying"),
            bigint(F.min("total_w")).alias("w_total"),
            bigint(F.min("x")).alias("wmedian_ppm"),
        )
    )


@op(
    "agg_pareto_coverage",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
         sum(cents) OVER (ORDER BY cents DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cents) OVER () AS total
  FROM rev
),
share AS (SELECT rn, 1000000 * cum // total AS share_ppm FROM ranked),
thr(threshold_ppm) AS (VALUES (500000), (800000), (900000))
SELECT CAST(thr.threshold_ppm AS BIGINT) AS threshold_ppm,
       CAST(min(rn) AS BIGINT) AS n_customers,
       CAST(min(share_ppm) AS BIGINT) AS share_ppm
FROM thr JOIN share ON share.share_ppm >= thr.threshold_ppm
GROUP BY thr.threshold_ppm
""",
    category=CAT,
)
def agg_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / concentration-curve coverage: how many top customers
    (revenue-ranked, custkey tiebreak) cover 50% / 80% / 90% of total
    revenue, with the exact share reached at that head count — the
    80/20 readout behind account-tiering and the long-tail view HHI's
    single number hides.  min(rn) and min(share_ppm) over qualifying
    rows are deterministic because cumulative share is monotone along
    the rank order.

    Scale: customer-keyed partial/final agg over the fact, then ONE
    global sort of customer rows for the running share — at 100 TB the
    curve is computed on the aggregate (customers), not the fact, and
    a two-level sampled-quantile variant bounds even that; the 3-row
    threshold relation broadcasts into the inequality probe."""
    o = spread(load(spark, sf_dir, "orders"))
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        ).alias("cents")
    )
    order = [F.col("cents").desc(), F.col("o_custkey")]
    ranked = rev.select(
        F.row_number().over(Window.orderBy(*order)).alias("rn"),
        F.sum("cents")
        .over(
            Window.orderBy(*order).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("cents").over(Window.partitionBy()).alias("total"),
    )
    # ppm share via DECIMAL(38,0): `1000000 * cum` on bigint cents
    # overflows int64 once cumulative revenue passes ~9.2e12 cents
    # (caught by the 10x profile sweep, round 7 — sf0.01 never
    # triggers it, 100 TB always would).  Decimal widening keeps the
    # arithmetic exact and `div` keeps DuckDB's `//` floor semantics;
    # values are unchanged wherever the old expression didn't overflow.
    share = ranked.select(
        "rn",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * cum) div total AS BIGINT)"
        ).alias("share_ppm"),
    )
    thr = spark.createDataFrame(
        [(500000,), (800000,), (900000,)], "threshold_ppm int"
    )
    return (
        F.broadcast(thr)
        .join(share, share.share_ppm >= thr.threshold_ppm)
        .groupBy("threshold_ppm")
        .agg(
            bigint(F.min("rn")).alias("n_customers"),
            bigint(F.min("share_ppm")).alias("share_ppm"),
        )
        .select(
            bigint(F.col("threshold_ppm")).alias("threshold_ppm"),
            "n_customers",
            "share_ppm",
        )
    )


@op(
    "agg_cumulative_distinct",
    oracle="""
WITH first_seen AS (
  SELECT user_id, min(ts::DATE) AS day FROM events GROUP BY user_id
),
daily_new AS (
  SELECT day, CAST(count(*) AS BIGINT) AS new_users
  FROM first_seen GROUP BY day
)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily_new
""",
    category=CAT,
)
def agg_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day WITHOUT a windowed
    COUNT(DISTINCT): min(first-seen day) per user (one shuffle on
    user_id), count per day, tiny running sum.  The standard rewrite
    that makes 'users to date' linear at warehouse scale."""
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily_new = first_seen.groupBy("day").agg(
        bigint(F.count(F.lit(1))).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily_new.select(
        "day", "new_users", bigint(F.sum("new_users").over(w)).alias("cum_users")
    )
