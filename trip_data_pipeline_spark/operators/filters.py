"""§2.2 Projection, filter, predicates (SURVEY.md §2.2).

All predicates here are expressed on raw columns (no UDFs) so Catalyst
pushes them into the parquet scan — check `.explain` shows
PushedFilters.  That property is what makes these free at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import as_date, bigint, r2
from trip_data_pipeline_spark.registry import op

CAT = "2.2 projection/filter"


@op(
    "project_rename_cast",
    oracle="""
SELECT l_orderkey AS okey,
       l_linenumber AS line_no,
       CAST(l_quantity AS BIGINT) AS qty,
       CAST(l_linenumber AS VARCHAR) AS line_str,
       round(l_extendedprice * (1 - l_discount), 4) AS revenue
FROM lineitem
""",
    category=CAT,
)
def project_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select/rename/cast/arithmetic projection — SURVEY.md §2.2 row 1.

    Note: double->int casts only on integral-valued doubles
    (l_quantity) — Spark truncates while DuckDB rounds, so a fractional
    cast would diverge.  revenue is rounded at its exact decimal grid
    (2dp x 2dp product = 4dp): rounding a 4dp-exact value at 2dp hits
    half-cent ties that Spark (decimal-string HALF_UP) and DuckDB
    (binary round) resolve differently."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.col("l_linenumber").cast("string").alias("line_str"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "revenue"
        ),
    )


@op(
    "filter_conjunctive",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate
FROM orders
WHERE (o_orderstatus IN ('F', 'O')
       AND o_totalprice BETWEEN 50000 AND 300000
       AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01')
   OR NOT (o_orderpriority <> '1-URGENT')
""",
    category=CAT,
)
def filter_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound AND/OR/NOT + IN + BETWEEN + date comparison — SURVEY.md
    §2.2 row 2."""
    o = load(spark, sf_dir, "orders")
    cond = (
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").between(50000, 300000)
        & (as_date(F.col("o_orderdate")) >= F.lit("1996-01-01").cast("date"))
    ) | ~(F.col("o_orderpriority") != "1-URGENT")
    return o.filter(cond).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        as_date(F.col("o_orderdate")).alias("o_orderdate"),
    )


@op(
    "filter_like",
    oracle="""
SELECT p_partkey, p_name, p_brand
FROM part
WHERE p_name LIKE '%widget%' OR p_brand LIKE 'Brand#1%'
""",
    category=CAT,
)
def filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / prefix pattern predicates — SURVEY.md §2.2 row 3."""
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%widget%") | F.col("p_brand").startswith("Brand#1")
    ).select("p_partkey", "p_name", "p_brand")


@op(
    "filter_null_semantics",
    oracle="""
SELECT NULLIF(o_orderstatus, 'P') AS st,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(NULLIF(o_orderstatus, 'P')) AS BIGINT) AS n_nonnull
FROM orders GROUP BY 1
""",
    category=CAT,
)
def filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued logic over a derived nullable column — SURVEY.md
    §2.2 row 4.  count(col) vs count(*) keeps the NULL branch
    distinguishable."""
    o = load(spark, sf_dir, "orders")
    st = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return (
        o.select(st.alias("st"))
        .groupBy("st")
        .agg(
            bigint(F.count(F.lit(1))).alias("n"),
            bigint(F.count("st")).alias("n_nonnull"),
        )
    )


@op(
    "case_when_bucketize",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 150000 THEN 'mid'
            WHEN o_totalprice < 300000 THEN 'high'
            ELSE 'vip' END AS band,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY 1
""",
    category=CAT,
)
def case_when_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN ladder classification — SURVEY.md §2.2 row 5 (the
    reference's record-classification tiers generalized)."""
    o = load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .when(F.col("o_totalprice") < 300000, "high")
        .otherwise("vip")
    )
    return (
        o.select(band.alias("band"), "o_totalprice")
        .groupBy("band")
        .agg(
            bigint(F.count(F.lit(1))).alias("n"),
            r2(F.sum("o_totalprice")).alias("total"),
        )
    )
