"""§2.6 Sort, limit, top-k, distinct (SURVEY.md §2.6).

Determinism discipline (§5.3 rule 7): every LIMIT / materialized order
carries a total tie-break key; the dedup operator uses min()-per-key
semantics instead of the nondeterministic first-row-wins
dropDuplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import bigint
from trip_data_pipeline_spark.registry import op

CAT = "2.6 sort/limit/distinct"


@op(
    "sort_multikey_nulls",
    oracle="""
SELECT o_orderkey, st,
       CAST(row_number() OVER (
         ORDER BY st DESC NULLS LAST, o_totalprice ASC, o_orderkey ASC
       ) AS BIGINT) AS rn
FROM (SELECT o_orderkey, o_totalprice,
             NULLIF(o_orderpriority, '5-LOW') AS st
      FROM orders WHERE o_orderkey < 3000) t
""",
    category=CAT,
)
def sort_multikey_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit NULL ordering, materialized as a
    rank so the order itself is hash-checkable — SURVEY.md §2.6 row 1.

    Single-partition window is intentional here (the rank is global);
    the probe side is bounded.  At scale a global total order uses
    repartitionByRange + per-partition offsets instead."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 3000)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")).alias("st"),
        )
    )
    w = Window.orderBy(
        F.col("st").desc_nulls_last(), F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.withColumn("rn", bigint(F.row_number().over(w))).select(
        "o_orderkey", "st", "rn"
    )


@op(
    "limit_topk",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
""",
    category=CAT,
    pure=True,
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 with total tie-break — SURVEY.md §2.6 row 2.

    orderBy().limit(k) compiles to TakeOrderedAndProject: each task
    keeps a k-heap, the driver merges — no full sort materialization,
    scale-safe for small k at any input size.

    Round-10 ratio decomposition at 1000x (150M orders): the 2-column
    scan+sum FLOOR measures 0.9-1.5 s and the full top-k 1.6-2.0 s —
    the ~4x DuckDB ratio is parquet scan throughput on a 2-column
    projection, not the top-k plan (which adds only ~0.5 s of k-heap
    work over the floor).  Nothing plan-level left to remove."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@op(
    "distinct_rows",
    oracle="SELECT DISTINCT event_type, user_id FROM events",
    category=CAT,
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT — SURVEY.md §2.6 row 3 (hash-agg dedup, partial
    map-side combine keeps the shuffle to unique keys)."""
    return load(spark, sf_dir, "events").select("event_type", "user_id").distinct()


@op(
    "drop_duplicates_subset",
    oracle="""
SELECT user_id, event_type, CAST(min(event_id) AS BIGINT) AS first_event_id
FROM events GROUP BY user_id, event_type
""",
    category=CAT,
)
def drop_duplicates_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keep-one-per-key dedup — SURVEY.md §2.6 row 4.

    dropDuplicates(subset) keeps an arbitrary row [S], so the checked
    variant pins min(event_id) per key — same dedup cardinality,
    deterministic survivor."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        bigint(F.min("event_id")).alias("first_event_id")
    )


@op(
    "limit_topk_with_ties",
    oracle="""
SELECT c_nationkey, c_custkey, bal_cents FROM (
  SELECT c_nationkey, c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         rank() OVER (PARTITION BY c_nationkey
                      ORDER BY round(c_acctbal * 100) DESC) AS r
  FROM customer
) WHERE r <= 3
""",
    category=CAT,
)
def limit_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group WITH TIES: rank() instead of row_number(), so
    every row tying the 3rd-place value survives — the FETCH FIRST
    ... WITH TIES semantics (row_number top-k silently drops tied
    peers; which rows survive would then be nondeterministic without a
    full tie-break).  Still compiles to WindowGroupLimit: rank-based
    group limits prune per-partition before the window sort exactly
    like row_number ones."""
    cust = load(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("bal_cents"))
    return (
        cust.select("c_nationkey", "c_custkey", cents.alias("bal_cents"))
        .withColumn("r", F.rank().over(w))
        .filter(F.col("r") <= 3)
        .select("c_nationkey", "c_custkey", "bal_cents")
    )
