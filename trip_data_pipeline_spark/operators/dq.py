"""Data-quality and privacy gates: expectation reports, column
profiles, referential-integrity, primary-key, freshness, sequence-gap
and reconciliation checks, outlier and drift detectors, quarantine of
invalid rows, and the k-anonymity suppression an export runs before
publishing user-derived aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import (
    _CENTS,
    _cents,
    bigint,
    r2,
    range_parts,
    spread,
)
from trip_data_pipeline_spark.registry import op

CAT = "data quality / validation"


@op(
    "dq_expectations_report",
    oracle="""
SELECT 'lineitem_orphan_orderkey' AS check_name, CAST(count(*) AS BIGINT) AS n_violations
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem_nonpositive_price', CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_extendedprice <= 0
UNION ALL
SELECT 'lineitem_discount_range', CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_discount < 0 OR l_discount > 1
UNION ALL
SELECT 'orders_null_custkey', CAST(count(*) AS BIGINT)
FROM orders WHERE o_custkey IS NULL
UNION ALL
SELECT 'orders_orphan_custkey', CAST(count(*) AS BIGINT)
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'customer_dup_custkey', CAST(coalesce(sum(n - 1), 0) AS BIGINT)
FROM (SELECT c_custkey, count(*) AS n FROM customer GROUP BY c_custkey HAVING count(*) > 1)
UNION ALL
SELECT 'events_negative_value', CAST(count(*) AS BIGINT)
FROM events WHERE value < 0
ORDER BY check_name
""",
    category=CAT,
)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style data-quality report: referential orphans
    (anti joins), domain-range violations, null keys, duplicate keys,
    one row per check.  Each check is an independent narrow aggregate
    (the anti joins broadcast their key side when small, shuffle on the
    key otherwise), unioned at the end — embarrassingly parallel at
    any scale, and the natural pre-flight gate before a pipeline
    publishes."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    ev = load(spark, sf_dir, "events")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.agg(bigint(F.count("*")).alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    orphan_li = li.join(
        o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti"
    )
    orphan_o = o.join(
        F.broadcast(c.select("c_custkey")), o.o_custkey == c.c_custkey, "left_anti"
    )
    dup_c = (
        c.groupBy("c_custkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(bigint(F.coalesce(F.sum(F.col("n") - 1), F.lit(0))).alias("n_violations"))
        .select(F.lit("customer_dup_custkey").alias("check_name"), "n_violations")
    )
    report = (
        check("lineitem_orphan_orderkey", orphan_li)
        .unionAll(check("lineitem_nonpositive_price", li.filter(F.col("l_extendedprice") <= 0)))
        .unionAll(
            check(
                "lineitem_discount_range",
                li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
            )
        )
        .unionAll(check("orders_null_custkey", o.filter(F.col("o_custkey").isNull())))
        .unionAll(check("orders_orphan_custkey", orphan_o))
        .unionAll(dup_c)
        .unionAll(check("events_negative_value", ev.filter(F.col("value") < 0)))
    )
    return report.orderBy("check_name")


@op(
    "observe_metrics_audit",
    oracle="""
SELECT CAST(count(*) AS BIGINT)                                 AS n_rows,
       CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(sum(floor(value * 100 + 0.5)) AS BIGINT)            AS value_cents
FROM events
""",
    category=CAT,
)
def observe_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass audit metrics via Spark's native ``observe`` API:
    row count, high-value count, and an integer-cent total ride the
    SAME scan/action as the pipeline instead of a second aggregation
    job — the mechanism production pipelines use for row-count
    reconciliation and data-quality counters.

    Scale: zero extra passes and zero extra shuffles — observed
    metrics are accumulator-style aggregates collected with the
    action; the sums are exact integers so the audit is reproducible
    across partitionings.  (The op executes its action at build time
    and returns the metrics as a 1-row DataFrame.)"""
    from pyspark.sql import Observation

    obs = Observation("audit")
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("value") >= 100).cast("bigint")).alias("n_high"),
        F.sum(cents).alias("value_cents"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_high"], m["value_cents"])],
        "n_rows bigint, n_high bigint, value_cents bigint",
    )


ANON_K = 25


@op(
    "anon_k_suppress",
    oracle=f"""
SELECT CAST(user_id % 50 AS BIGINT) AS uid_bucket, event_type,
       CAST(count(*) AS BIGINT) AS n,
       count(*) >= {ANON_K} AS kept
FROM events
GROUP BY 1, 2
""",
    category=CAT,
)
def anon_k_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression gate (k={ANON_K}): events roll up to
    quasi-identifier cells (coarsened user bucket x event type); cells
    below k are flagged suppressed — the privacy gate an analytics
    export runs before publishing user-derived aggregates.

    Scale: one partial+final aggregation; the k threshold compares
    exact integers.  Generalization (coarser buckets) rather than
    suppression would re-aggregate the SAME rollup — no extra scan."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        bigint(F.col("user_id") % 50).alias("uid_bucket"), "event_type"
    ).agg(
        bigint(F.count(F.lit(1))).alias("n"),
        (F.count(F.lit(1)) >= ANON_K).alias("kept"),
    )


@op(
    "profile_table",
    oracle="""
SELECT 'l_quantity' AS col_name,
       CAST(count(*) - count(l_quantity) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT l_quantity) AS BIGINT)   AS n_distinct,
       round(min(l_quantity), 2)  AS min_num,
       round(max(l_quantity), 2)  AS max_num
FROM lineitem
UNION ALL
SELECT 'l_extendedprice',
       CAST(count(*) - count(l_extendedprice) AS BIGINT),
       CAST(count(DISTINCT l_extendedprice) AS BIGINT),
       round(min(l_extendedprice), 2), round(max(l_extendedprice), 2)
FROM lineitem
UNION ALL
SELECT 'l_returnflag',
       CAST(count(*) - count(l_returnflag) AS BIGINT),
       CAST(count(DISTINCT l_returnflag) AS BIGINT),
       NULL, NULL
FROM lineitem
""",
    category=CAT,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling op: null/distinct/min/max per column in ONE scan
    (the three per-column aggregates are computed side by side, then
    unpivoted — not three scans)."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.agg(
        bigint(F.count(F.lit(1)) - F.count("l_quantity")).alias("q_nulls"),
        bigint(F.countDistinct("l_quantity")).alias("q_distinct"),
        r2(F.min("l_quantity")).alias("q_min"),
        r2(F.max("l_quantity")).alias("q_max"),
        bigint(F.count(F.lit(1)) - F.count("l_extendedprice")).alias("p_nulls"),
        bigint(F.countDistinct("l_extendedprice")).alias("p_distinct"),
        r2(F.min("l_extendedprice")).alias("p_min"),
        r2(F.max("l_extendedprice")).alias("p_max"),
        bigint(F.count(F.lit(1)) - F.count("l_returnflag")).alias("r_nulls"),
        bigint(F.countDistinct("l_returnflag")).alias("r_distinct"),
    )
    return agg.selectExpr(
        """stack(3,
             'l_quantity',      q_nulls, q_distinct, q_min, q_max,
             'l_extendedprice', p_nulls, p_distinct, p_min, p_max,
             'l_returnflag',    r_nulls, r_distinct, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
           ) AS (col_name, n_nulls, n_distinct, min_num, max_num)"""
    )


@op(
    "validate_quarantine",
    oracle="""
SELECT CASE WHEN l_discount BETWEEN 0 AND 0.1
             AND l_quantity > 0
             AND l_extendedprice > 0
             AND l_tax >= 0 THEN 'valid' ELSE 'quarantine' END AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS total_price
FROM lineitem GROUP BY 1
""",
    category=CAT,
)
def validate_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Valid/quarantine split with per-bucket stats — SURVEY.md §2.2
    row 6 (the reference's record-validation step generalized).  One
    pass, no separate filters: at scale this is a single scan + tiny
    agg, not two scans."""
    li = load(spark, sf_dir, "lineitem")
    valid = (
        F.col("l_discount").between(0, 0.1)
        & (F.col("l_quantity") > 0)
        & (F.col("l_extendedprice") > 0)
        & (F.col("l_tax") >= 0)
    )
    return (
        li.select(
            F.when(valid, "valid").otherwise("quarantine").alias("bucket"),
            "l_extendedprice",
        )
        .groupBy("bucket")
        .agg(
            bigint(F.count(F.lit(1))).alias("n"),
            r2(F.sum("l_extendedprice")).alias("total_price"),
        )
    )


@op(
    "dq_benford_first_digit",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                     AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit)
SELECT digit,
       CAST(n AS BIGINT) AS n_orders,
       CAST(1000000 * n // sum(n) OVER () AS BIGINT) AS share_ppm
FROM c
""",
    category=CAT,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals (in exact
    cents): per leading digit, order count and corpus share in ppm.
    Fabricated or unit-mangled money columns drift visibly from the
    log10(1+1/d) profile — this is the one-glance data-forensics gate
    run before a new source's prices are trusted (Benford 1938; Nigrini
    1996 for the audit usage).

    Scale: map-side digit extraction (integer cast chain, no float
    formatting), one partial/final agg to <= 9 rows, then a window
    total over those 9 rows — constant-size output regardless of
    input."""
    o = spread(load(spark, sf_dir, "orders"))
    digit = F.expr(
        "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
        " AS STRING), 1, 1) AS BIGINT)"
    )
    c = o.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n"))
    withtot = c.select(
        "digit", "n", F.sum("n").over(Window.partitionBy()).alias("total")
    )
    return withtot.select(
        "digit",
        bigint(F.col("n")).alias("n_orders"),
        bigint(F.expr("1000000 * n div total")).alias("share_ppm"),
    )


_RI_EDGES = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
)


@op(
    "dq_referential_integrity",
    oracle="""
SELECT 'lineitem->orders' AS fk,
       CAST(count(*) AS BIGINT) AS n_child,
       CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM lineitem c
LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
  ON p.k = c.l_orderkey
UNION ALL
SELECT 'lineitem->supplier',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem c
LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) p
  ON p.k = c.l_suppkey
UNION ALL
SELECT 'lineitem->part',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem c
LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
  ON p.k = c.l_partkey
UNION ALL
SELECT 'orders->customer',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders c
LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
  ON p.k = c.o_custkey
""",
    category=CAT,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: one row per foreign-key edge of
    the star schema with child row count and orphan count (child keys
    with no parent).  The ingest smoke report every warehouse load
    runs before downstream joins silently drop rows — inner joins eat
    orphans without a trace, so this gate is how the drop becomes a
    number someone owns.

    Scale: each edge is a left join against the DISTINCT parent keys
    (key column only — parents never move their payload), aggregated
    to one row before the union; Catalyst/AQE picks broadcast for
    dim-sized parents and a shuffle join for fact-sized ones (orders),
    exactly the per-edge strategy a 100-TB audit wants.  A bloom-filter
    pre-probe would cut the orders edge further; at fixture scale the
    plain plan is already 4 aggregates over 4 joins."""
    parts = []
    for fk, child_t, ck, parent_t, pk in _RI_EDGES:
        child = spread(load(spark, sf_dir, child_t))
        parent = load(spark, sf_dir, parent_t).select(
            F.col(pk).alias("__pk")
        ).distinct()
        j = child.select(F.col(ck).alias("__ck")).join(
            parent, F.col("__ck") == F.col("__pk"), "left"
        )
        parts.append(
            j.agg(
                bigint(F.count(F.lit(1))).alias("n_child"),
                bigint(
                    F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
                ).alias("n_orphans"),
            ).select(F.lit(fk).alias("fk"), "n_child", "n_orphans")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@op(
    "dq_freshness_lag",
    oracle="""
WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
per AS (
  SELECT event_type,
         count(*) AS n_events,
         max(us) AS latest_us
  FROM e GROUP BY event_type
)
SELECT event_type,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(latest_us AS BIGINT) AS latest_us,
       CAST((max(latest_us) OVER () - latest_us) // 1000000 AS BIGINT)
         AS lag_s
FROM per
""",
    category=CAT,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness audit: for each event type, event count,
    latest timestamp (exact microseconds), and how many whole seconds
    it lags the freshest stream.  The pipeline-health report that
    catches a stalled upstream producer before its staleness poisons
    a time-windowed join or a training cutoff.

    Scale: one event_type-keyed partial/final agg (max/count are
    mergeable), then a window over the handful of type rows —
    constant-size output."""
    ev = load(spark, sf_dir, "events")
    per = ev.select(
        "event_type", F.expr("unix_micros(ts)").alias("us")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("us").alias("latest_us"),
    )
    withmax = per.select(
        "event_type",
        "n_events",
        "latest_us",
        F.max("latest_us").over(Window.partitionBy()).alias("freshest"),
    )
    return withmax.select(
        "event_type",
        bigint(F.col("n_events")).alias("n_events"),
        bigint(F.col("latest_us")).alias("latest_us"),
        bigint(F.expr("(freshest - latest_us) div 1000000")).alias("lag_s"),
    )


@op(
    "dq_reconcile_order_totals",
    oracle="""
WITH li AS (
  SELECT l_orderkey AS k,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                        * 100) AS BIGINT)) AS line_cents
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents, line_cents
  FROM orders JOIN li ON li.k = o_orderkey
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN o_cents = line_cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN o_cents <> line_cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatched,
       CAST(sum(abs(o_cents - line_cents)) AS BIGINT) AS drift_cents,
       CAST(max(abs(o_cents - line_cents)) AS BIGINT) AS max_drift_cents
FROM j
""",
    category=CAT,
)
def dq_reconcile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: each order's header total against
    the sum of its line amounts (extendedprice x (1-discount) x
    (1+tax), per-line rounded to exact cents) — match/mismatch counts
    plus total and max absolute drift.  The two-system consistency
    check every warehouse runs between an ingested header feed and its
    detail feed; drift as a number is what turns 'the totals look off'
    into a pageable defect.

    Scale: one orderkey-keyed partial/final agg over the fact, then an
    equi-join to the header (both sides keyed on the join key, and at
    TPC-H-like layouts co-partitioned), collapsing to a 1-row report."""
    li = spread(load(spark, sf_dir, "lineitem"))
    o = load(spark, sf_dir, "orders")
    line = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)"
                " * 100) AS BIGINT)"
            )
        ).alias("line_cents")
    )
    j = o.select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("o_cents"),
    ).join(line, F.col("o_orderkey") == F.col("k"))
    diff = F.abs(F.col("o_cents") - F.col("line_cents"))
    return j.agg(
        bigint(F.count(F.lit(1))).alias("n_orders"),
        bigint(
            F.sum(F.when(F.col("o_cents") == F.col("line_cents"), 1).otherwise(0))
        ).alias("n_matched"),
        bigint(
            F.sum(F.when(F.col("o_cents") != F.col("line_cents"), 1).otherwise(0))
        ).alias("n_mismatched"),
        bigint(F.sum(diff)).alias("drift_cents"),
        bigint(F.max(diff)).alias("max_drift_cents"),
    )


_PK_TABLES = (
    ("orders", "o_orderkey"),
    ("customer", "c_custkey"),
    ("part", "p_partkey"),
    ("supplier", "s_suppkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
)


@op(
    "dq_primary_key_uniqueness",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{t}' AS table_name,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
       CAST(max(c) AS BIGINT) AS max_multiplicity
FROM (SELECT {k}, count(*) AS c FROM {t} GROUP BY {k})
"""
        for t, k in _PK_TABLES
    ),
    category=CAT,
)
def dq_primary_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit: per table, row count, distinct
    key count, duplicated-key count, and worst multiplicity.  The
    companion gate to the referential-integrity audit — duplicate keys
    silently FAN OUT downstream joins exactly where orphans silently
    drop rows, and a fan-out found after a 100-TB join re-run is the
    expensive way to find it.

    Scale: one key-keyed partial/final agg per table (count-distinct
    as a two-level exact agg, never a global distinct), each collapsing
    to a 1-row report before the union."""
    parts = []
    for t, k in _PK_TABLES:
        keyed = (
            spread(load(spark, sf_dir, t), min_fraction=0.25)
            .groupBy(F.col(k))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        parts.append(
            keyed.agg(
                bigint(F.sum("c")).alias("n_rows"),
                bigint(F.count(F.lit(1))).alias("n_keys"),
                bigint(F.sum(F.when(F.col("c") > 1, 1).otherwise(0))).alias(
                    "n_dup_keys"
                ),
                bigint(F.max("c")).alias("max_multiplicity"),
            ).select(
                F.lit(t).alias("table_name"),
                "n_rows",
                "n_keys",
                "n_dup_keys",
                "max_multiplicity",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@op(
    "dq_partition_drift",
    oracle="""
WITH m AS (
  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
         count(*) AS n,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
g AS (
  SELECT ym, n, cents,
         cents // n AS mean_cents,
         sum(cents) OVER () // sum(n) OVER () AS global_mean
  FROM m
)
SELECT CAST(ym AS BIGINT) AS ym,
       CAST(n AS BIGINT) AS n_orders,
       CAST(mean_cents AS BIGINT) AS mean_cents,
       CAST(1000000 * abs(mean_cents - global_mean) // global_mean
            AS BIGINT) AS drift_ppm,
       CAST(CASE WHEN mean_cents >= global_mean THEN 1 ELSE -1 END
            AS BIGINT) AS drift_sign
FROM g
""",
    category=CAT,
)
def dq_partition_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level drift audit: mean order value (exact integer
    cents, floor-div) per year-month partition vs the global mean,
    absolute drift in ppm plus its sign.  The table-health scan that
    catches a bad backfill or a unit change landing in ONE partition —
    global stats stay plausible while a single month is 10x off.

    Scale: one partition-key agg (mergeable sum/count), window totals
    over the handful of partition rows; at a real lakehouse this reads
    partition column + one metric column only, pruned at the scan."""
    o = spread(load(spark, sf_dir, "orders"))
    m = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        ).alias("cents"),
    )
    g = m.select(
        "ym",
        "n",
        "cents",
        F.expr("cents div n").alias("mean_cents"),
        F.sum("cents").over(Window.partitionBy()).alias("tc"),
        F.sum("n").over(Window.partitionBy()).alias("tn"),
    ).select("ym", "n", "mean_cents", F.expr("tc div tn").alias("global_mean"))
    return g.select(
        bigint(F.col("ym")).alias("ym"),
        bigint(F.col("n")).alias("n_orders"),
        bigint(F.col("mean_cents")).alias("mean_cents"),
        bigint(
            F.expr("1000000 * abs(mean_cents - global_mean) div global_mean")
        ).alias("drift_ppm"),
        bigint(
            F.when(F.col("mean_cents") >= F.col("global_mean"), 1).otherwise(-1)
        ).alias("drift_sign"),
    )


@op(
    "dq_sequence_gaps",
    oracle="""
WITH k AS (
  SELECT o_orderkey AS k,
         lag(o_orderkey) OVER (ORDER BY o_orderkey) AS pk
  FROM orders
)
SELECT CAST(pk + 1 AS BIGINT) AS gap_start,
       CAST(k - 1 AS BIGINT) AS gap_end,
       CAST(k - pk - 1 AS BIGINT) AS gap_len
FROM k WHERE pk IS NOT NULL AND k - pk > 1
""",
    category=CAT,
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit over a supposedly-sequential key: every
    missing-id range in o_orderkey as (start, end, length) — the
    lost-batch detector for ingest feeds that promise contiguous ids
    (a gap of exactly one file's worth of rows is a dropped file, not
    noise).  TPC-H orderkeys are deliberately sparse, so the fixture
    exercises real gaps.

    Scale (round-7 rework): the naive ``lag() OVER (ORDER BY k)`` is a
    partitionless window — Spark moves EVERY key into one task
    (WindowExec's own warning), a single-partition sort of the whole
    key column at 100 TB.  This is the ids_global_contiguous two-pass
    shape instead: range-partition the key, lag WITHIN each partition
    (every group bounded by rows/partition), then close the seams
    with a #partitions-row boundary pass (per-partition min/max, lag
    over that tiny relation).  A gap is either interior to one range
    or spans two adjacent ranges, so the union is exactly the global
    lag's output wherever the boundaries land."""
    o = spread(load(spark, sf_dir, "orders")).select(
        F.col("o_orderkey").alias("k")
    )
    p = o.repartitionByRange(range_parts(spark), "k").withColumn(
        "pid", F.spark_partition_id()
    )
    w_in = Window.partitionBy("pid").orderBy("k")
    interior = p.select("pid", "k", F.lag("k").over(w_in).alias("pk")).filter(
        F.col("pk").isNotNull() & (F.col("k") - F.col("pk") > 1)
    )
    seams = (
        p.groupBy("pid")
        .agg(F.min("k").alias("mn"), F.max("k").alias("mx"))
        .select(
            F.col("mn").alias("k"),
            F.lag("mx").over(Window.orderBy("pid")).alias("pk"),
        )
        .filter(F.col("pk").isNotNull() & (F.col("k") - F.col("pk") > 1))
    )
    g = interior.select("k", "pk").unionByName(seams)
    return g.select(
        bigint(F.col("pk") + 1).alias("gap_start"),
        bigint(F.col("k") - 1).alias("gap_end"),
        bigint(F.col("k") - F.col("pk") - 1).alias("gap_len"),
    )


@op(
    "dq_double_fire_events",
    oracle="""
WITH g AS (
  SELECT event_type, user_id, epoch_us(ts) // 1000000 AS sec,
         count(*) AS c
  FROM events
  GROUP BY event_type, user_id, epoch_us(ts) // 1000000
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_groups,
       CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
         AS n_extra_rows
FROM g GROUP BY event_type
""",
    category=CAT,
)
def dq_double_fire_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-fire telemetry audit: events identical on (type, user,
    whole second) — the retry/at-least-once duplicate class the
    PK-uniqueness audit CANNOT see (each dup has a fresh event_id) —
    reported per type as duplicated groups and excess rows.  This
    number is what decides whether a pipeline needs the
    dedup-by-semantic-key pass (stream_dedup_watermark is the
    streaming form).

    Scale: one (type, user, sec)-keyed partial/final agg, then a
    per-type rollup — both mergeable, no join."""
    ev = spread(load(spark, sf_dir, "events"))
    g = ev.groupBy(
        "event_type",
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
    ).agg(F.count(F.lit(1)).alias("c"))
    return g.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n_groups"),
        bigint(F.sum(F.when(F.col("c") > 1, 1).otherwise(0))).alias(
            "n_dup_groups"
        ),
        bigint(
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0))
        ).alias("n_extra_rows"),
    )


@op(
    "dq_ship_before_order",
    oracle="""
SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
            AS BIGINT) AS n_impossible,
       CAST(1000000 * sum(CASE WHEN l_shipdate < o_orderdate
                               THEN 1 ELSE 0 END) // count(*) AS BIGINT)
         AS impossible_ppm
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY 1
""",
    category=CAT,
)
def dq_ship_before_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field temporal-consistency audit: lines shipped BEFORE
    their order existed, per order month — the impossible-timestamp
    class (clock skew, timezone double-conversion, backfill with the
    wrong epoch) that single-table range checks can't see because each
    column alone looks plausible.  The synthetic fixture violates it
    heavily, which is exactly the point: the audit MEASURES the
    violation instead of assuming it away.

    Scale: one fact-to-header equi-join (both keyed on orderkey) and
    a month rollup; the flag is evaluated inside the join projection,
    so only two date columns move."""
    li = spread(load(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    ym = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym")
    return j.groupBy(ym).agg(
        bigint(F.count(F.lit(1))).alias("n_lines"),
        bigint(
            F.sum(
                F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
            )
        ).alias("n_impossible"),
        bigint(
            F.expr(
                "1000000 * sum(CASE WHEN l_shipdate < o_orderdate"
                " THEN 1 ELSE 0 END) div count(1)"
            )
        ).alias("impossible_ppm"),
    )


@op(
    "dq_volume_dod_change",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
  FROM orders GROUP BY 1
),
c AS (
  SELECT day, n, lag(n) OVER (ORDER BY day) AS prev_n
  FROM d
)
SELECT CAST(epoch_us(CAST(day AS TIMESTAMP)) // 86400000000 AS BIGINT)
         AS day_idx,
       CAST(n AS BIGINT) AS n_orders,
       CAST(prev_n AS BIGINT) AS prev_orders,
       CAST(1000000 * abs(n - prev_n) // prev_n AS BIGINT) AS change_ppm,
       CAST(CASE WHEN n >= prev_n THEN 1 ELSE -1 END AS BIGINT) AS sign,
       CAST(CASE WHEN 10 * abs(n - prev_n) >= 5 * prev_n
                 THEN 1 ELSE 0 END AS BIGINT) AS flagged
FROM c WHERE prev_n IS NOT NULL
""",
    category=CAT,
)
def dq_volume_dod_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day volume anomaly feed: per day, order count vs the
    previous day, absolute change in exact ppm with its sign, and a
    cross-multiplied >= 50% flag (10*|delta| >= 5*prev — no float
    threshold) — the pager alert for a collapsed or doubled ingest,
    complementing the vs-global partition-drift audit with the
    adjacent-day view that catches gradual drifts' step edges.

    Scale: one day-keyed agg over the fact, then a lag over the tiny
    daily series — the alert computation never touches fact rows
    twice."""
    o = spread(load(spark, sf_dir, "orders"))
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    c = d.select(
        "day", "n", F.lag("n").over(Window.orderBy("day")).alias("prev_n")
    ).filter(F.col("prev_n").isNotNull())
    return c.select(
        bigint(
            F.expr("unix_micros(CAST(day AS TIMESTAMP)) div 86400000000")
        ).alias("day_idx"),
        bigint(F.col("n")).alias("n_orders"),
        bigint(F.col("prev_n")).alias("prev_orders"),
        bigint(F.expr("1000000 * abs(n - prev_n) div prev_n")).alias(
            "change_ppm"
        ),
        bigint(F.when(F.col("n") >= F.col("prev_n"), 1).otherwise(-1)).alias(
            "sign"
        ),
        bigint(
            F.when(
                10 * F.abs(F.col("n") - F.col("prev_n")) >= 5 * F.col("prev_n"),
                1,
            ).otherwise(0)
        ).alias("flagged"),
    )


@op(
    "dq_duplicate_invoices",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(o_orderdate AS DATE) AS d
  FROM orders
)
SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       a.o_custkey AS custkey,
       CAST(a.cents AS BIGINT) AS cents,
       CAST(abs(date_diff('day', a.d, b.d)) AS BIGINT) AS days_apart
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.cents = b.cents
 AND a.o_orderkey < b.o_orderkey
WHERE abs(date_diff('day', a.d, b.d)) <= 7
""",
    category=CAT,
)
def dq_duplicate_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-invoice audit: order pairs from the SAME customer
    with the IDENTICAL total (exact cents) within 7 days — the
    double-billing / double-submission pattern finance reconciliation
    hunts (exact-amount coincidence within a window is the standard
    heuristic).  Pair formation blocks on (customer, cents) — the
    dedup band-join discipline — so only same-key groups ever meet;
    the date window is a residual filter.

    Scale: self-join keyed on (custkey, cents): group sizes are tiny
    (amount collisions within one customer), identical in shape to
    the URL-canonical and truncated-variant dedup blocks."""
    o = spread(load(spark, sf_dir, "orders")).select(
        "o_orderkey",
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.to_date("o_orderdate").alias("d"),
    )
    a = o.select(
        F.col("o_orderkey").alias("order_a"),
        F.col("o_custkey").alias("custkey"),
        "cents",
        F.col("d").alias("da"),
    )
    b = o.select(
        F.col("o_orderkey").alias("order_b"),
        F.col("o_custkey").alias("custkey"),
        "cents",
        F.col("d").alias("db"),
    )
    return (
        a.join(b, ["custkey", "cents"])
        .filter(
            (F.col("order_a") < F.col("order_b"))
            & (F.abs(F.datediff(F.col("da"), F.col("db"))) <= 7)
        )
        .select(
            "order_a",
            "order_b",
            "custkey",
            bigint(F.col("cents")).alias("cents"),
            bigint(F.abs(F.datediff(F.col("db"), F.col("da")))).alias(
                "days_apart"
            ),
        )
    )


@op(
    "dq_unit_price_outliers",
    oracle="""
WITH u AS (
  SELECT l_partkey AS pk,
         CAST(round(100 * l_extendedprice / l_quantity) AS BIGINT)
           AS unit_cents
  FROM lineitem WHERE l_quantity > 0
),
ranked AS (
  SELECT pk, unit_cents,
         row_number() OVER (PARTITION BY pk ORDER BY unit_cents) AS rn,
         count(*) OVER (PARTITION BY pk) AS n
  FROM u
),
med AS (
  SELECT pk, min(n) AS n_lines,
         min(CASE WHEN 2 * rn >= n + 1 THEN unit_cents END) AS median_cents
  FROM ranked GROUP BY pk
  HAVING min(n) >= 8
)
SELECT med.pk AS partkey,
       CAST(med.n_lines AS BIGINT) AS n_lines,
       CAST(med.median_cents AS BIGINT) AS median_unit_cents,
       CAST(sum(CASE WHEN u.unit_cents > 2 * med.median_cents
                       OR 2 * u.unit_cents < med.median_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM med JOIN u ON u.pk = med.pk
GROUP BY med.pk, med.n_lines, med.median_cents
HAVING sum(CASE WHEN u.unit_cents > 2 * med.median_cents
                  OR 2 * u.unit_cents < med.median_cents
                THEN 1 ELSE 0 END) > 0
""",
    category=CAT,
)
def dq_unit_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part unit-price anomaly audit: exact per-part MEDIAN unit
    price (rank pick, no sketch) and the count of lines priced more
    than 2x off it (cross-multiplied comparisons) — the pricing-feed
    corruption detector (decimal shifts, currency mixups) that a
    GLOBAL outlier gate misses because every part has its own price
    level; only parts with >= 8 lines and >= 1 outlier report.

    Scale: one part-keyed window sort for the median (key + one
    metric column), then a re-join of the same part-keyed data
    (co-partitioned) for the deviation count."""
    li = spread(load(spark, sf_dir, "lineitem"))
    u = li.filter(F.col("l_quantity") > 0).select(
        F.col("l_partkey").alias("pk"),
        F.expr(
            "CAST(round(100 * l_extendedprice / l_quantity) AS BIGINT)"
        ).alias("unit_cents"),
    )
    wr = Window.partitionBy("pk").orderBy("unit_cents")
    ranked = u.select(
        "pk",
        "unit_cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("pk")).alias("n"),
    )
    med = (
        ranked.groupBy("pk")
        .agg(
            F.min("n").alias("n_lines"),
            F.min(
                F.when(2 * F.col("rn") >= F.col("n") + 1, F.col("unit_cents"))
            ).alias("median_cents"),
        )
        .filter(F.col("n_lines") >= 8)
    )
    j = u.join(med, "pk")
    out = j.groupBy("pk", "n_lines", "median_cents").agg(
        F.sum(
            F.when(
                (F.col("unit_cents") > 2 * F.col("median_cents"))
                | (2 * F.col("unit_cents") < F.col("median_cents")),
                1,
            ).otherwise(0)
        ).alias("n_outliers")
    ).filter(F.col("n_outliers") > 0)
    return out.select(
        F.col("pk").alias("partkey"),
        bigint(F.col("n_lines")).alias("n_lines"),
        bigint(F.col("median_cents")).alias("median_unit_cents"),
        bigint(F.col("n_outliers")).alias("n_outliers"),
    )


@op(
    "dq_outlier_iqr",
    oracle=f"""
WITH vals AS (
  SELECT event_type, {_CENTS} AS cents FROM events
),
fences AS (
  SELECT event_type,
         quantile_cont(cents, 0.25) AS q1,
         quantile_cont(cents, 0.75) AS q3
  FROM vals GROUP BY event_type
)
SELECT v.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN v.cents * 2.0 < f.q1 * 5 - f.q3 * 3
                       OR v.cents * 2.0 > f.q3 * 5 - f.q1 * 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(f.q1 / 100.0, 4) AS q1,
       round(f.q3 / 100.0, 4) AS q3
FROM vals v JOIN fences f USING (event_type)
GROUP BY v.event_type, f.q1, f.q3
""",
    category=CAT,
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier counts per group.  Fence test is
    cross-multiplied: x < q1 - 1.5*(q3-q1)  <=>  2x < 5*q1 - 3*q3,
    keeping the comparison in exact halves of integer cents (q1/q3 are
    midpoint-interpolated, so 2*q is integral).  Spark `percentile` and
    DuckDB `quantile_cont` both interpolate linearly on the sorted set."""
    ev = load(spark, sf_dir, "events").select("event_type", _cents().alias("cents"))
    fences = ev.groupBy("event_type").agg(
        F.percentile("cents", 0.25).alias("q1"),
        F.percentile("cents", 0.75).alias("q3"),
    )
    lo = F.col("q1") * 5 - F.col("q3") * 3
    hi = F.col("q3") * 5 - F.col("q1") * 3
    out_flag = (F.col("cents") * 2.0 < lo) | (F.col("cents") * 2.0 > hi)
    return (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            bigint(F.count(F.lit(1))).alias("n"),
            bigint(F.sum(F.when(out_flag, 1).otherwise(0))).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            F.round(F.col("q1") / 100.0, 4).alias("q1"),
            F.round(F.col("q3") / 100.0, 4).alias("q3"),
        )
    )


@op(
    "dq_anomaly_mad",
    oracle="""
WITH x AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
med AS (SELECT event_type, median(cents) AS med FROM x GROUP BY event_type),
dev AS (
  SELECT x.event_type, x.cents, abs(x.cents - med.med) AS d, med.med
  FROM x JOIN med USING (event_type)
),
mad AS (SELECT event_type, median(d) AS mad FROM dev GROUP BY event_type)
SELECT dev.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(min(dev.med), 1)   AS med_cents,
       round(min(mad.mad), 1)   AS mad_cents,
       CAST(sum(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
""",
    category=CAT,
)
def dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via median absolute deviation: flag
    values more than 3 MAD from the per-group median — the
    outlier-resistant sibling of dq_outlier_iqr (a single wild value
    shifts an IQR fence, not a MAD fence).

    Exactness: values quantized to integer cents; medians of integers
    are either integers or exact .5 halves (quantile interpolation at
    the midpoint) — every comparison and the 3xMAD threshold are
    exact doubles, so outlier membership cannot flip between engines.

    Scale: two grouped exact medians (per-group sort; swap in
    approx_percentile at real scale, same shape) + two broadcast-size
    joins of per-type statistics back onto the value stream."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(d, 0.5)").alias("mad"))
    j = dev.join(F.broadcast(mad), "event_type")
    return j.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        F.round(F.min("med"), 1).alias("med_cents"),
        F.round(F.min("mad"), 1).alias("mad_cents"),
        bigint(
            F.sum((F.col("d") > 3 * F.col("mad")).cast("bigint"))
        ).alias("n_outliers"),
    )
