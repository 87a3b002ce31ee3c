"""Table IO: explicit schemas + loaders (SURVEY.md §1.2, §7 M0).

Schemas are fixed and explicit (FIXTURES.md) — never inferred from
CSV/JSON in checked queries.  Parquet reads use the footer schema which
matches these; the explicit StructTypes exist for:

- ``scan_explicit_schema`` (§2.1) — proving fixed-schema operation,
- Structured Streaming sources (§2.9) — ``readStream`` requires one,
- CSV round-trips (§2.1) — schema-on-read without inference.

Note on timestamps: ``events.ts``, ``orders.o_orderdate`` and
``lineitem.l_shipdate`` are stored as parquet ``timestamp[us]`` with no
time zone (pyarrow schema at sf0.001, sf0.01 and sf0.1; the dates are
date-valued), which Spark reads as TIMESTAMP_NTZ and DuckDB as
TIMESTAMP, so integer µs math (``unix_micros`` vs ``epoch_us``) is
exactly parity-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Per-session memo of loaded fixture DataFrames.  spark.read.parquet
# EAGERLY resolves the schema (footer read + file listing over py4j)
# — measured ~75-90 ms per table, so a 5-table star join paid ~450 ms
# of pure plan-construction per execution.  Fixture tables are
# immutable and DataFrames are immutable logical plans, so reusing
# one scan object per (session, dir, table) is semantics-free.  The
# memo lives as an attribute ON the session object itself (not in a
# module-level WeakKeyDictionary): cached DataFrames hold strong refs
# back to their session, so a weak-keyed global would never release
# an entry (value->key cycle pins it — ADVICE r5 item 1); an instance
# attribute has exactly the session's own lifetime, with no global
# root, so the cache truly dies when the session object does.
# The memo also makes operators.common.spread's
# df.rdd.getNumPartitions() probe a once-per-table cost: PySpark caches
# a DataFrame's .rdd.
_LOAD_CACHE_ATTR = "_tdp_spark_load_cache"

TABLES = (
    "region",
    "nation",
    "supplier",
    "customer",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


# Raw schema for *derived* event files that our own sinks write with
# ``ts`` as long ns-since-epoch (e.g. the watermark-late micro-batch
# dirs).  ns_to_ts converts the long column after the streaming read.
RAW_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Schema for streaming the ORIGINAL events.parquet, whose ``ts`` is a
# µs timestamp with no time zone: PySpark 4.1.2 surfaces it as
# TIMESTAMP_NTZ, so the readStream declaration must say NTZ; ns_to_ts
# then casts to TimestampType (identity under the pinned-UTC session TZ).
EVENTS_NTZ_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def ns_to_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events ``ts`` column to TimestampType (µs).

    The fixture files store a µs timestamp with no time zone; a ns file
    or another Spark build/conf can surface it three ways, all handled
    here:

    - ``TimestampNTZType`` (what PySpark 4.1.2 reads from the fixtures):
      cast to TimestampType — the session TZ is pinned UTC, so the
      NTZ→TZ cast is the identity and the µs values match DuckDB
      ``epoch_us`` exactly (verified µs-identical on the fixtures).
    - ``LongType`` (a build honoring ``nanosAsLong``): ns-epoch integer,
      ``div 1000`` → µs → ``timestamp_micros``.
    - ``TimestampType`` already (derived fixtures re-written by our own
      sinks): no-op.

    Exact parity with DuckDB, which reads the same µs values."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.TimestampType):
        return df
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.  Plain parquet read: the footer schema is
    authoritative and Catalyst gets pushdown/pruning for free."""
    # Timestamp->date casts follow the session TZ; the oracle (DuckDB)
    # is naive-UTC, so pin it regardless of how the caller's session was
    # built (the driver constructs its own SparkSession).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cache = getattr(spark, _LOAD_CACHE_ATTR, None)
    if cache is None:
        cache = {}
        try:
            setattr(spark, _LOAD_CACHE_ATTR, cache)
        except AttributeError:  # __slots__-style session impl: no memo
            pass
    df = cache.get((sf_dir, name))
    if df is not None:
        return df
    if name == "events":
        # the fixture's zone-less ts arrives as TIMESTAMP_NTZ; ns_to_ts
        # normalizes whatever type the read produced.
        df = ns_to_ts(spark.read.parquet(table_path(sf_dir, name)))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    cache[(sf_dir, name)] = df
    return df
