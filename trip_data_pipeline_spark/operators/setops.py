"""§2.7 Set operations (SURVEY.md §2.7)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import (
    bigint,
    duck_hex_int,
    hex_int,
    spread,
)
from trip_data_pipeline_spark.registry import op

CAT = "2.7 set operations"


@op(
    "set_union_all",
    oracle="""
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
""",
    category=CAT,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (UNION ALL) — SURVEY.md §2.7 row 1.  unionByName is a
    zero-shuffle plan concatenation."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderstatus")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey", "o_orderstatus")
    return a.unionByName(b)


@op(
    "set_union_distinct",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
""",
    category=CAT,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union (UNION) — SURVEY.md §2.7 row 2."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@op(
    "set_intersect",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'view'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
    category=CAT,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics) — SURVEY.md §2.7 row 3."""
    ev = load(spark, sf_dir, "events")
    viewed = ev.filter(F.col("event_type") == "view").select("user_id")
    purchased = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewed.intersect(purchased)


@op(
    "set_except",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'view'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
    category=CAT,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: users who viewed but never purchased — SURVEY.md §2.7
    row 4 (subtract = EXCEPT DISTINCT, matching SQL set semantics)."""
    ev = load(spark, sf_dir, "events")
    viewed = ev.filter(F.col("event_type") == "view").select("user_id")
    purchased = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewed.subtract(purchased)


@op(
    "set_intersect_all",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'view'
INTERSECT ALL
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
    category=CAT,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics: min multiplicity) — §2.7
    extension."""
    ev = load(spark, sf_dir, "events")
    viewed = ev.filter(F.col("event_type") == "view").select("user_id")
    purchased = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewed.intersectAll(purchased)


@op(
    "set_except_all",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'view'
EXCEPT ALL
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
    category=CAT,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics: multiplicity subtraction) — §2.7
    extension."""
    ev = load(spark, sf_dir, "events")
    viewed = ev.filter(F.col("event_type") == "view").select("user_id")
    purchased = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewed.exceptAll(purchased)


@op(
    "set_union_missing_cols",
    oracle="""
SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment
FROM customer
UNION ALL BY NAME
SELECT s_name AS name, s_acctbal AS acctbal, NULL AS segment
FROM supplier
""",
    category=CAT,
)
def set_union_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): schema-evolving feed
    union, absent columns null-filled — §2.7 extension."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.col("s_acctbal").alias("acctbal")
    )
    return c.unionByName(s, allowMissingColumns=True)


@op("sample_seeded", oracle=None, category=CAT)
def sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling (rows-only: the sampled set is
    engine-specific but reproducible — same seed, same rows; asserted
    in tests/test_properties.py)."""
    li = load(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@op("sample_stratified", oracle=None, category=CAT)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-key fraction) sampling via sampleBy — the
    class-rebalancing primitive for training-data curation (downsample
    the dominant event types, keep the rare ones whole).  Rows-only:
    the sampled set is engine-specific but seed-reproducible (asserted
    in tests/test_properties.py).  Map-only at scale: each row is a
    local hash draw against its stratum's fraction, no shuffle."""
    ev = load(spark, sf_dir, "events")
    fractions = {"view": 0.05, "click": 0.1, "purchase": 0.5, "signup": 1.0, "error": 1.0}
    s = ev.sampleBy("event_type", fractions, seed=42)
    return s.groupBy("event_type").agg(bigint(F.count(F.lit(1))).alias("n_sampled"))


@op(
    "sample_deterministic_hash",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       CAST(l_quantity AS BIGINT) AS qty
FROM lineitem
WHERE {duck_hex_int("md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))", 1, 4)}
      % 100 < 10
ORDER BY l_orderkey, l_linenumber
""",
    category=CAT,
)
def sample_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed 10% sample: keep a row iff the first 16 md5
    bits of its business key land under the threshold.  Unlike
    `sample(seed=..)` (engine-specific RNG, rows-only checkable), this
    picks the SAME rows on any engine, any partitioning, any cluster
    size — so it hash-checks exactly, and downstream experiments are
    reproducible across stacks.  Map-only: no shuffle, predicate
    evaluates per-row in codegen."""
    li = load(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    bucket = hex_int(F.md5(key), 1, 4) % 100
    return (
        li.filter(bucket < 10)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@op(
    "sample_topk_hash_per_group",
    oracle="""
SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(text) NULLS LAST, doc_id) AS rn
  FROM documents
)
WHERE rn <= 5
""",
    category=CAT,
)
def sample_topk_hash_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sample: the 5 docs with the smallest
    content hash per language — a reservoir-sample stand-in that is
    content-addressed, so ANY engine / partitioning / run picks the
    identical rows (unlike rand()-seeded sampling).  At 100 TB this is
    a WindowGroupLimit (per-group top-k heap), no global sort."""
    docs = load(spark, sf_dir, "documents")
    # NULLS LAST explicit (md5 of NULL text; round-8 NULL sweep)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("text").cast("binary")).asc_nulls_last(), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", bigint(F.col("rn")).alias("rn"))
    )


@op(
    "sample_negatives_hash_ring",
    oracle="""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
pos AS (SELECT doc_id, lang FROM documents),
neg AS (
  SELECT p.doc_id, j.j AS neg_rank,
         (p.doc_id + j.j * 104729) % n.n_docs AS neg_id
  FROM pos p, n, (SELECT unnest([1, 2, 3]) AS j) j
  WHERE (p.doc_id + j.j * 104729) % n.n_docs <> p.doc_id
)
SELECT neg.doc_id, neg.neg_rank, CAST(neg.neg_id AS BIGINT) AS neg_id,
       CAST(CASE WHEN p.lang = q.lang THEN 1 ELSE 0 END AS BIGINT)
         AS same_lang
FROM neg
JOIN pos p ON p.doc_id = neg.doc_id
JOIN pos q ON q.doc_id = neg.neg_id
""",
    category=CAT,
)
def sample_negatives_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    doc gets k=3 negatives at fixed prime strides around the dense-id
    ring ((id + j*104729) mod N — reproducible across runs and
    engines, no RNG), annotated with a same-language flag so the
    training mix can control easy-vs-hard negative ratios.  Requires
    dense ids; the ids_global_contiguous op is the densifier when a
    corpus lacks them (its docstring carries the premise).

    Scale: the 1-row corpus count broadcasts, the 3-way explode is
    map-side, and the negative's features arrive via one equi-join on
    the ring id — no shuffle beyond that join; self-pairs (N divides
    the stride ring onto itself) are excluded identically in both
    engines."""
    docs = spread(load(spark, sf_dir, "documents"), min_fraction=0.25).select(
        "doc_id", "lang"
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    neg = (
        docs.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "lang",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("neg_rank"),
            "n_docs",
        )
        .select(
            "doc_id",
            "lang",
            "neg_rank",
            F.expr("(doc_id + neg_rank * 104729) % n_docs").alias("neg_id"),
        )
        .filter(F.col("neg_id") != F.col("doc_id"))
    )
    q = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang")
    )
    return neg.join(q, "neg_id").select(
        "doc_id",
        "neg_rank",
        bigint(F.col("neg_id")).alias("neg_id"),
        bigint(
            F.when(F.col("lang") == F.col("neg_lang"), 1).otherwise(0)
        ).alias("same_lang"),
    )
