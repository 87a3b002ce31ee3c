"""§2.10 UDF / UDAF / UDTF surface (SURVEY.md §2.10; patterns per
SNIPPETS.md grouped-map / scalar-pandas examples).

These operators exist to cover the extension surface.  Performance
ordering (SURVEY.md §4): built-ins > higher-order fns > Arrow-batched
pandas UDFs > row-at-a-time Python UDFs; the row UDF appears exactly
once (udf_python_scalar) to cover the API, everything else is
Arrow-vectorized.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import bigint
from trip_data_pipeline_spark.registry import op

CAT = "2.10 UDF surface"


@op(
    "udf_python_scalar",
    oracle="""
SELECT c_custkey, reverse(lower(c_name)) AS rev_name
FROM customer
""",
    category=CAT,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow path, present for API
    coverage) — SURVEY.md §2.10 row 1."""

    @F.udf(returnType=T.StringType())
    def rev_lower(s: str) -> str:
        return s[::-1].lower() if s is not None else None

    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", rev_lower(F.col("c_name")).alias("rev_name"))


@op(
    "udf_pandas_scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS revenue
FROM lineitem
""",
    category=CAT,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF (Arrow batches) — SURVEY.md §2.10
    row 2.  Same 4dp-grid rounding rule as the built-in version."""

    @F.pandas_udf("double")
    def revenue(price: pd.Series, discount: pd.Series) -> pd.Series:
        return (price * (1.0 - discount)).round(4)

    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        revenue(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"),
    )


@op(
    "udaf_pandas_grouped_agg",
    oracle="""
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2)
         AS weighted_avg_price
FROM lineitem GROUP BY l_returnflag
""",
    category=CAT,
)
def udaf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: quantity-weighted mean price —
    SURVEY.md §2.10 row 3."""

    @F.pandas_udf("double")
    def weighted_mean(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            weighted_mean(F.col("l_extendedprice"), F.col("l_quantity")), 2
        ).alias("weighted_avg_price")
    )


@op(
    "udtf_grouped_map_normalize",
    oracle="""
SELECT event_id, event_type,
       CASE WHEN round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) = 0
            THEN CAST(0.0 AS DOUBLE)
            ELSE round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) END AS z
FROM events
WINDOW w AS (PARTITION BY event_type)
""",
    category=CAT,
)
def udtf_grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas z-score per event_type — SURVEY.md
    §2.10 row 4 (SNIPPETS.md grouped-map pattern; pandas std is ddof=1
    so the oracle uses stddev_samp, §5.3 rule 6)."""

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        z = ((v - v.mean()) / v.std()).round(4) + 0.0  # +0.0 kills -0.0
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "event_type": pdf["event_type"], "z": z}
        )

    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").applyInPandas(
        normalize, schema="event_id bigint, event_type string, z double"
    )


@op(
    "udtf_python",
    oracle="""
SELECT doc_id, word, CAST(length(word) AS BIGINT) AS wlen
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents WHERE doc_id < 20) t
""",
    category=CAT,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) exploding text into
    (word, wlen) rows via a lateral join — SURVEY.md §2.10 row 5."""

    @F.udtf(returnType="word string, wlen bigint")
    class SplitWords:
        def eval(self, text: str):
            if text:
                for w in text.split(" "):
                    yield (w, len(w))

    spark.udtf.register("split_words", SplitWords)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    d.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, t.word, t.wlen "
        "FROM _udtf_docs d, LATERAL split_words(d.text) t"
    )


@op(
    "udf_arrow_batch",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice < 100000 THEN 'small' ELSE 'large' END AS band,
       round(o_totalprice * 1.1, 3) AS boosted
FROM orders
""",
    category=CAT,
)
def udf_arrow_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas whole-partition Arrow-batch transform — SURVEY.md
    §2.10 row 6.  boosted is on a 3dp grid (2dp x 1.1), rounded there."""

    def transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "o_orderkey": pdf["o_orderkey"],
                    "band": (pdf["o_totalprice"] < 100000).map(
                        {True: "small", False: "large"}
                    ),
                    "boosted": (pdf["o_totalprice"] * 1.1).round(3),
                }
            )

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return o.mapInPandas(
        transform, schema="o_orderkey bigint, band string, boosted double"
    )


@op(
    "udf_pandas_iter_scalar",
    oracle="""
SELECT event_id,
       CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
FROM events
""",
    category=CAT,
)
def udf_pandas_iter_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF (SCALAR_ITER) — the batch-reuse
    variant of the vectorized UDF: the function body runs ONCE per
    partition around the batch loop, which is where a real pipeline
    amortizes expensive init (model load, tokenizer build) across all
    Arrow batches instead of per batch.  The work itself (half-up
    cent quantization) is numeric so the oracle replays it exactly."""
    @F.pandas_udf("bigint")
    def cents(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # per-partition init would happen here, once
        import numpy as np

        for s in batches:
            # NULL in -> NULL out: astype("int64") on NaN silently
            # yields int64 min (caught by the round-8 NULL-payload
            # sweep as -9223372036854775808 where the oracle has
            # NULL); a masked IntegerArray round-trips NULL through
            # Arrow instead
            mask = s.isna().to_numpy()
            f = np.floor(np.nan_to_num(s.to_numpy(dtype="float64")) * 100 + 0.5)
            yield pd.Series(pd.arrays.IntegerArray(f.astype("int64"), mask))

    ev = load(spark, sf_dir, "events")
    return ev.select("event_id", cents(F.col("value")).alias("vc"))


@op(
    "udf_map_in_arrow",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS rev_em4
FROM lineitem GROUP BY l_returnflag
""",
    category=CAT,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the lowest-overhead Python batch surface — the
    function sees raw pyarrow.RecordBatch objects (no pandas
    conversion at all) and emits RecordBatches.  Here each batch
    computes exact integer discounted revenue (cents x basis-points)
    vectorized via pyarrow.compute; the JVM side then runs a plain
    partial/final aggregate.  Contrast: udf_arrow_batch goes through
    pandas; this path skips even that copy — the shape for
    high-throughput tokenizers/codecs that operate on Arrow buffers.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    from typing import Iterator

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )

    def rev(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ext = pc.cast(pc.round(pc.multiply(b.column(1), 100.0)), pa.int64())
            dsc = pc.cast(pc.round(pc.multiply(b.column(2), 100.0)), pa.int64())
            rev = pc.multiply(ext, pc.subtract(pa.scalar(100, pa.int64()), dsc))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), rev], ["l_returnflag", "rev_em4"]
            )

    mapped = li.mapInArrow(rev, schema="l_returnflag string, rev_em4 bigint")
    return mapped.groupBy("l_returnflag").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("rev_em4")).alias("rev_em4"),
    )
