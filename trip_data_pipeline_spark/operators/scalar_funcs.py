"""§2.8 Scalar functions: string / date / math / array / map / json /
struct (SURVEY.md §2.8).

This is where Spark<->DuckDB dialect hazards concentrate; each operator
docstring records the normalization applied (day-of-week numbering,
0/1-based positions, floor-based precision reduction, decimal-grid
rounding).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import (
    _duck_words,
    _words,
    as_date,
    bigint,
    epoch_s,
    nz,
    r2,
)
from trip_data_pipeline_spark.registry import op

CAT = "2.8 scalar functions"


@op(
    "str_basics",
    oracle="""
SELECT p_partkey,
       upper(p_name)                              AS up,
       lower(p_brand)                             AS lo,
       CAST(length(p_name) AS BIGINT)             AS ln,
       substring(p_name, 1, 5)                    AS sub5,
       concat_ws('-', p_brand, p_type)            AS cw,
       replace(p_name, ' ', '_')                  AS rep,
       lpad(CAST(p_size AS VARCHAR), 4, '0')      AS lp,
       trim(concat(' ', p_name, ' '))             AS trm
FROM part
""",
    category=CAT,
)
def str_basics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/lower/length/substr/concat_ws/replace/lpad/trim —
    SURVEY.md §2.8 row 1."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        bigint(F.length("p_name")).alias("ln"),
        F.substring("p_name", 1, 5).alias("sub5"),
        F.concat_ws("-", "p_brand", "p_type").alias("cw"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("rep"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("lp"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trm"),
    )


@op(
    "str_split_part",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderpriority IS NULL THEN NULL
            ELSE split_part(o_orderpriority, '-', 1) END AS pri_num,
       CASE WHEN o_orderpriority IS NULL THEN NULL
            ELSE split_part(o_orderpriority, '-', 2) END AS pri_word
FROM orders
""",
    category=CAT,
)
def str_split_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split + element access (Spark 0-based getItem vs DuckDB 1-based
    split_part, aligned) — SURVEY.md §2.8 row 2."""
    o = load(spark, sf_dir, "orders")
    parts = F.split(F.col("o_orderpriority"), "-")
    return o.select(
        "o_orderkey",
        parts.getItem(0).alias("pri_num"),
        parts.getItem(1).alias("pri_word"),
    )


@op(
    "str_regexp",
    oracle="""
SELECT o_orderkey,
       CAST(regexp_extract(o_orderpriority, '^(\\d+)', 1) AS INTEGER) AS pri,
       o_orderpriority
FROM orders
WHERE regexp_matches(o_orderpriority, 'URGENT|HIGH')
""",
    category=CAT,
)
def str_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract + rlike filter (Java regex vs RE2 agree on this
    subset) — SURVEY.md §2.8 row 3."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderpriority").rlike("URGENT|HIGH"))
        .select(
            "o_orderkey",
            F.regexp_extract(F.col("o_orderpriority"), r"^(\d+)", 1)
            .cast("int")
            .alias("pri"),
            "o_orderpriority",
        )
    )


@op(
    "date_parts",
    oracle="""
SELECT o_orderkey,
       CAST(year(CAST(o_orderdate AS DATE))  AS BIGINT) AS y,
       CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
       CAST(day(CAST(o_orderdate AS DATE))   AS BIGINT) AS d,
       CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS wd_mon0
FROM orders
""",
    category=CAT,
)
def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/day-of-week extraction — SURVEY.md §2.8 row 4.

    Day-of-week numbering differs across engines (§5.3 rule 5):
    normalized to Monday=0 via Spark ``weekday`` vs DuckDB
    ``isodow - 1``."""
    o = load(spark, sf_dir, "orders")
    d = as_date(F.col("o_orderdate"))
    return o.select(
        "o_orderkey",
        bigint(F.year(d)).alias("y"),
        bigint(F.month(d)).alias("m"),
        bigint(F.dayofmonth(d)).alias("d"),
        bigint(F.weekday(d)).alias("wd_mon0"),
    )


@op(
    "date_arith",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(date_diff('day', CAST(o_orderdate AS DATE),
                      CAST(l_shipdate AS DATE)) AS BIGINT)  AS ship_delay_days,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
       CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
       last_day(CAST(o_orderdate AS DATE))                 AS month_end
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
""",
    category=CAT,
)
def date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """datediff / date_add / date_trunc / last_day — SURVEY.md §2.8
    row 5."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    od = as_date(F.col("o_orderdate"))
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        bigint(F.datediff(as_date(F.col("l_shipdate")), od)).alias("ship_delay_days"),
        F.date_add(od, 30).alias("plus30"),
        F.trunc(od, "month").alias("month_start"),
        F.last_day(od).alias("month_end"),
    )


@op(
    "time_bucket_15min",
    oracle="""
WITH e AS (SELECT (epoch_us(ts) // 1000000) AS s, value FROM events)
SELECT CAST(s - s % 900 AS BIGINT) AS bucket_s,
       CAST(count(*) AS BIGINT)    AS n,
       round(sum(value), 2)        AS total_value
FROM e GROUP BY 1
""",
    category=CAT,
)
def time_bucket_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute time bucketing — SURVEY.md §2.8 row 6: the reference's
    temporal-precision-reduction anonymization op generalized.
    Projected as integer epoch (never raw timestamps, §5.3 rule 2)."""
    ev = load(spark, sf_dir, "events").select(epoch_s("ts").alias("s"), "value")
    return (
        ev.groupBy(bigint(F.col("s") - F.col("s") % 900).alias("bucket_s"))
        .agg(
            bigint(F.count(F.lit(1))).alias("n"),
            r2(F.sum("value")).alias("total_value"),
        )
    )


@op(
    "math_suite",
    oracle="""
SELECT event_id,
       CAST(floor(value) AS BIGINT)        AS fl,
       CAST(ceil(value)  AS BIGINT)        AS ce,
       round(abs(value - 100), 2)          AS ab,
       round(power(value, 2), 4)           AS p2,
       round(sqrt(value), 6)               AS sq,
       round(ln(1 + value), 6)             AS lg,
       round(log10(1 + value), 6)          AS l10,
       CAST(event_id % 7 AS BIGINT)        AS md,
       CAST(sign(value - 250) AS INTEGER)  AS sg
FROM events
""",
    category=CAT,
)
def math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """floor/ceil/abs/pow/sqrt/ln/log10/mod/sign — SURVEY.md §2.8 row 7.

    sqrt is IEEE-correctly-rounded (identical across engines); ln/log10
    are libm (<=1 ulp apart) — rounded at 6 dp where a 1-ulp gap cannot
    flip the result except on a measure-zero boundary."""
    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        bigint(F.floor(v)).alias("fl"),
        bigint(F.ceil(v)).alias("ce"),
        r2(F.abs(v - 100)).alias("ab"),
        F.round(F.pow(v, 2), 4).alias("p2"),
        F.round(F.sqrt(v), 6).alias("sq"),
        F.round(F.log(F.lit(1) + v), 6).alias("lg"),
        F.round(F.log10(F.lit(1) + v), 6).alias("l10"),
        bigint(F.col("event_id") % 7).alias("md"),
        F.signum(v - 250).cast("int").alias("sg"),
    )


@op(
    "precision_reduce_round",
    oracle="""
WITH r AS (SELECT event_type, floor(value * 10) / 10 AS v1 FROM events)
SELECT event_type,
       round(sum(v1), 2)        AS total_reduced,
       round(avg(v1), 2)        AS avg_reduced,
       CAST(count(*) AS BIGINT) AS n
FROM r GROUP BY event_type
""",
    category=CAT,
)
def precision_reduce_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision reduction + re-aggregate — SURVEY.md §2.8 row 8: the
    reference's spatial-precision anonymization generalized.

    Uses floor(x*10)/10 (truncation to 1 dp) rather than round(x, 1):
    the raw values live on a 2 dp grid, so .x5 values are EXACT halves
    at 1 dp and Spark (decimal HALF_UP) and DuckDB (binary round) would
    legitimately disagree.  Truncation is pure IEEE arithmetic —
    bit-identical everywhere — and is the semantics an anonymizer
    actually wants (bucket, don't nearest-round)."""
    ev = load(spark, sf_dir, "events")
    v1 = F.floor(F.col("value") * 10) / 10
    return (
        ev.select("event_type", v1.alias("v1"))
        .groupBy("event_type")
        .agg(
            r2(F.sum("v1")).alias("total_reduced"),
            r2(F.avg("v1")).alias("avg_reduced"),
            bigint(F.count(F.lit(1))).alias("n"),
        )
    )


@op(
    "hash_id_stable",
    oracle="""
SELECT c_custkey,
       md5(c_name)     AS name_md5,
       sha256(c_name)  AS name_sha256
FROM customer
""",
    category=CAT,
)
def hash_id_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic identifier hashing (anonymize IDs) — SURVEY.md
    §2.8 row 9."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5(F.col("c_name")).alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
    )


@op(
    "array_ops",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT)        AS n_words,
       list_contains(string_split(text, ' '), 'join')      AS has_join,
       array_to_string(list_slice(string_split(text, ' '), 1, 3), ',')
                                                           AS first3,
       array_to_string(list_sort(list_distinct(string_split(text, ' '))), ',')
                                                           AS uniq_words
FROM documents
""",
    category=CAT,
)
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size/contains/slice/distinct/sort over word arrays — SURVEY.md
    §2.8 row 10.  array_distinct keeps first-occurrence order (engine-
    specific) so it is always wrapped in sort_array before hashing.
    Array results are projected comma-joined (array_join both engines):
    the driver's pandas canonicalizer cannot sort raw ArrayType cells,
    and both sides join identically so equality is unchanged."""
    d = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        bigint(F.size(words)).alias("n_words"),
        F.array_contains(words, "join").alias("has_join"),
        F.array_join(F.slice(words, 1, 3), ",").alias("first3"),
        F.array_join(F.sort_array(F.array_distinct(words)), ",").alias("uniq_words"),
    )


@op(
    "array_explode",
    oracle="""
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
GROUP BY word
""",
    category=CAT,
)
def array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (lateral view) to word counts — SURVEY.md §2.8 row 11."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(bigint(F.count(F.lit(1))).alias("n"))
    )


@op(
    "array_posexplode",
    oracle="""
SELECT vec_id,
       CAST(generate_subscripts(list_slice(embedding, 1, 8), 1) AS BIGINT) AS pos,
       CAST(unnest(list_slice(embedding, 1, 8)) AS DOUBLE)                 AS val
FROM embeddings
""",
    category=CAT,
)
def array_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode of the first 8 embedding dims — SURVEY.md
    §2.8 row 12 (Spark posexplode is 0-based, DuckDB subscripts are
    1-based: +1 on the Spark side).

    Raw elements are projected UNROUNDED: both engines widen the same
    float32 to the same double, so equality is exact — while rounding
    a float-origin value at 4 dp hits shortest-repr half-boundaries
    (e.g. 0.01235) that Spark (decimal HALF_UP) and DuckDB (binary
    round) resolve differently (observed at sf0.1)."""
    e = load(spark, sf_dir, "embeddings")
    sliced = F.slice(F.col("embedding"), 1, 8)
    return e.select("vec_id", F.posexplode(sliced).alias("pos0", "v")).select(
        "vec_id",
        bigint(F.col("pos0") + 1).alias("pos"),
        F.col("v").cast("double").alias("val"),
    )


@op(
    "array_higher_order",
    oracle="""
WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings)
SELECT vec_id,
       CASE WHEN round(list_aggregate(emb, 'sum'), 4) = 0
            THEN CAST(0.0 AS DOUBLE)
            ELSE round(list_aggregate(emb, 'sum'), 4) END     AS vec_sum,
       CAST(len(list_filter(emb, x -> x > 0)) AS BIGINT)     AS n_pos,
       array_to_string(list_transform(list_slice(emb, 1, 4),
           x -> CAST(CAST(floor(x * 2 * 10000 + 0.5) AS BIGINT) AS VARCHAR)),
           ',')                                              AS first4_doubled
FROM e
""",
    category=CAT,
)
def array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions (transform/aggregate/filter) for vector
    math without UDFs — SURVEY.md §2.8 row 13.  Elements are cast
    float->double BEFORE arithmetic on both engines (FIXTURES.md gotcha
    5).  The x*2 slice is still computed with transform/slice HOFs but
    is PROJECTED as a comma-joined string of floor-scaled bigints: the
    driver's pandas canonicalizer cannot sort raw ArrayType cells
    (CORRECTNESS_r03 `unhashable type: 'list'`), and float64->string
    formatting differs across engines, so each element is
    floor(x*2*1e4+0.5) — deterministic in float64 on both sides."""
    e = load(spark, sf_dir, "embeddings")
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        nz(
            F.round(F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x), 4)
        ).alias("vec_sum"),
        bigint(F.size(F.filter(emb, lambda x: x > 0))).alias("n_pos"),
        F.array_join(
            F.transform(
                F.slice(emb, 1, 4),
                lambda x: F.floor(x * 2 * 10000 + 0.5).cast("bigint").cast("string"),
            ),
            ",",
        ).alias("first4_doubled"),
    )


@op(
    "map_from_entries",
    oracle="""
SELECT user_id,
       CAST(NULLIF(count(CASE WHEN event_type = 'click' THEN 1 END), 0)
            AS BIGINT) AS n_clicks
FROM events WHERE event_type IS NOT NULL GROUP BY user_id
""",
    category=CAT,
)
def map_from_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build MapType event_type->count per user, read one key back —
    SURVEY.md §2.8 row 14.  Only the element_at lookup is projected
    (map hashing across engines is not portable); a user with no clicks
    yields NULL, mirrored by NULLIF(count, 0) in the oracle."""
    # a NULL event_type cannot be a map key (Spark raises
    # NULL_MAP_KEY) — rows with NULL keys are excluded before map
    # construction in BOTH engines (round-8 NULL-payload sweep)
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    per_type = ev.groupBy("user_id", "event_type").agg(
        bigint(F.count(F.lit(1))).alias("n")
    )
    maps = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("type_counts")
    )
    return maps.select(
        "user_id", F.element_at(F.col("type_counts"), "click").alias("n_clicks")
    )


@op(
    "json_extract_props",
    oracle="""
SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2)     AS total_value
FROM events GROUP BY 1
""",
    category=CAT,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object + aggregate on the extracted key — SURVEY.md
    §2.8 row 15."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            bigint(F.count(F.lit(1))).alias("n"),
            r2(F.sum("value")).alias("total_value"),
        )
    )


@op(
    "struct_nested",
    oracle="""
SELECT o_orderkey, d, p,
       CAST(row_number() OVER (ORDER BY d, p, o_orderkey) AS BIGINT) AS rn
FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, o_totalprice AS p
      FROM orders WHERE o_orderkey < 3000) t
""",
    category=CAT,
)
def struct_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a struct, project its fields, order BY the struct —
    SURVEY.md §2.8 row 16 (struct comparison = lexicographic field
    order, mirrored as ORDER BY d, p in the oracle)."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 3000)
        .select(
            "o_orderkey",
            F.struct(
                as_date(F.col("o_orderdate")).alias("d"),
                F.col("o_totalprice").alias("p"),
            ).alias("s"),
        )
    )
    w = Window.orderBy(F.col("s").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey",
        F.col("s.d").alias("d"),
        F.col("s.p").alias("p"),
        bigint(F.row_number().over(w)).alias("rn"),
    )


@op(
    "conditional_funcs",
    oracle="""
SELECT o_orderkey,
       coalesce(NULLIF(o_orderstatus, 'P'), 'unknown')     AS st,
       greatest(o_totalprice, 200000.0)                    AS hi,
       least(o_totalprice, 200000.0)                       AS lo,
       coalesce(NULLIF(o_orderpriority, '5-LOW'), 'none')  AS pri
FROM orders
""",
    category=CAT,
)
def conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nullif / greatest / least — SURVEY.md §2.8 row 17."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("unknown")).alias(
            "st"
        ),
        F.greatest(F.col("o_totalprice"), F.lit(200000.0)).alias("hi"),
        F.least(F.col("o_totalprice"), F.lit(200000.0)).alias("lo"),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")), F.lit("none")
        ).alias("pri"),
    )


@op(
    "error_safe_funcs",
    oracle="""
SELECT o_orderkey,
       TRY_CAST(o_orderpriority AS INTEGER) AS pri_int,
       TRY_CAST(split_part(o_orderpriority, '-', 1) AS INTEGER) AS pri_num,
       CASE WHEN o_custkey % 3 = 0 THEN NULL
            ELSE round(o_totalprice / (o_custkey % 3), 4) END AS per_unit,
       string_split(o_orderpriority, '-')[99] AS oob_elem
FROM orders
""",
    category=CAT,
)
def error_safe_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe evaluation under ANSI mode (Spark 4 defaults ANSI on,
    where bad casts / div-by-zero / out-of-bounds THROW): try_cast,
    try_divide, try_element_at return NULL instead — the semantics a
    quarantine-style pipeline needs to not die on one bad record.
    DuckDB mirrors via TRY_CAST / CASE guard / permissive indexing."""
    o = load(spark, sf_dir, "orders")
    denom = F.col("o_custkey") % 3
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").try_cast("int").alias("pri_int"),
        F.split(F.col("o_orderpriority"), "-").getItem(0).try_cast("int").alias(
            "pri_num"
        ),
        F.round(F.try_divide(F.col("o_totalprice"), denom), 4).alias("per_unit"),
        F.try_element_at(F.split(F.col("o_orderpriority"), "-"), F.lit(99)).alias(
            "oob_elem"
        ),
    )


@op(
    "json_variant_ops",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
       CAST(json_extract(props, '$.k') AS INTEGER) > 50 AS is_large
FROM events
""",
    category=CAT,
)
def json_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType semi-structured path: parse_json ->
    variant_get typed extraction — the successor to string-based
    get_json_object (binary variant encoding, no re-parse per access).
    Oracle uses DuckDB's JSON extraction on the same column."""
    ev = load(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return ev.select(
        "event_id",
        k.alias("k_int"),
        (k > 50).alias("is_large"),
    )


@op(
    "map_higher_order",
    oracle="""
WITH per_type AS (
  SELECT user_id, event_type, round(sum(value), 2) AS total
  FROM events WHERE event_type IS NOT NULL GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(count(*) AS BIGINT)                                   AS n_types,
       CAST(count(CASE WHEN total > 100 THEN 1 END) AS BIGINT)    AS big_types,
       round(sum(total), 2)                                       AS all_total
FROM per_type GROUP BY user_id
""",
    category=CAT,
)
def map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: build MapType event_type->total,
    then size / map_filter / aggregate-over-values — MapType analytics
    without exploding back to rows.  Oracle expresses the same answers
    relationally (map internals are not portable across engines,
    §2.8 map_from_entries note)."""
    # NULL event_type excluded before map construction in BOTH
    # engines (NULL_MAP_KEY — same contract as map_from_entries)
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    per_type = ev.groupBy("user_id", "event_type").agg(
        r2(F.sum("value")).alias("total")
    )
    maps = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "total"))
        ).alias("m")
    )
    return maps.select(
        "user_id",
        bigint(F.size("m")).alias("n_types"),
        bigint(F.size(F.map_filter(F.col("m"), lambda k, v: v > 100))).alias(
            "big_types"
        ),
        # SQL-aggregate NULL semantics for the HOF fold: sum() skips
        # NULL addends (a NULL-value event leaves a NULL per-type
        # total), while acc + NULL would poison the whole fold; an
        # all-NULL value set stays NULL like SQL sum (round-8
        # NULL-payload sweep)
        F.when(
            F.size(F.filter(F.map_values("m"), lambda x: x.isNotNull())) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            r2(
                F.aggregate(
                    F.filter(F.map_values("m"), lambda x: x.isNotNull()),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
        )
        .alias("all_total"),
    )


_VOCAB = ["join", "filter", "window", "spark", "merge", "batch", "data", "query"]

_VOCAB_SQL = "[" + ", ".join(f"'{w}'" for w in _VOCAB) + "]"


@op(
    "array_set_ops",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(string_split(text, ' ')) AS toks,
         {_VOCAB_SQL} AS vocab
  FROM documents
)
SELECT doc_id,
       CASE WHEN toks IS NULL THEN NULL
            ELSE coalesce(array_to_string(list_sort(list_intersect(toks, vocab)),
                                          ','), '') END AS inter,
       CAST(CASE WHEN toks IS NULL THEN NULL
            ELSE len(list_distinct(list_concat(toks, vocab))) END
            AS BIGINT) AS n_union,
       CAST(len(list_filter(toks, x -> NOT list_contains(vocab, x)))
            AS BIGINT) AS n_except
FROM t
""",
    category=CAT,
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra against a literal vocabulary:
    intersect / union / except with explicit distinct+sort
    normalization on both engines (Spark's array_* set fns dedup;
    DuckDB's list fns are normalized to match).  The intersection is
    projected comma-joined — the driver's pandas canonicalizer cannot
    sort raw ArrayType cells.  Map-only — no shuffle; at 100 TB this
    is a pure codegen projection pass."""
    docs = load(spark, sf_dir, "documents")
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    toks = F.array_distinct(F.split(F.col("text"), " "))
    return docs.select(
        "doc_id",
        F.array_join(F.sort_array(F.array_intersect(toks, vocab)), ",").alias(
            "inter"
        ),
        bigint(F.size(F.array_union(toks, vocab))).alias("n_union"),
        bigint(F.size(F.array_except(toks, vocab))).alias("n_except"),
    )


@op(
    "str_encode_hex_base64",
    oracle="""
SELECT c_custkey,
       lower(hex(c_name)) AS name_hex,
       to_base64(encode(c_name)) AS name_b64,
       CAST(bit_count(c_custkey) AS BIGINT) AS key_bits
FROM customer
""",
    category=CAT,
)
def str_encode_hex_base64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encodings of strings/ints: hex (case-normalized — Spark
    emits uppercase, DuckDB upper too, lower() both), RFC-4648 base64
    (no line wrapping in either engine), and popcount of the integer
    key.  Map-only projection."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower(F.hex(F.col("c_name"))).alias("name_hex"),
        F.base64(F.col("c_name").cast("binary")).alias("name_b64"),
        F.expr("CAST(bit_count(c_custkey) AS BIGINT)").alias("key_bits"),
    )


@op(
    "str_levenshtein",
    oracle="""
SELECT p1.p_partkey AS partkey,
       CAST(levenshtein(p1.p_name, p2.p_name) AS BIGINT)  AS dist_next,
       CAST(levenshtein(p1.p_name, 'red widget') AS BIGINT) AS dist_ref
FROM part p1 JOIN part p2 ON p2.p_partkey = p1.p_partkey + 1
""",
    category=CAT,
)
def str_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance between neighboring part names and to a reference
    string — fuzzy-matching primitive (both engines implement classic
    Levenshtein)."""
    p = load(spark, sf_dir, "part")
    p1, p2 = p.alias("p1"), p.alias("p2")
    return p1.join(p2, F.col("p2.p_partkey") == F.col("p1.p_partkey") + 1).select(
        F.col("p1.p_partkey").alias("partkey"),
        bigint(F.levenshtein(F.col("p1.p_name"), F.col("p2.p_name"))).alias(
            "dist_next"
        ),
        bigint(F.levenshtein(F.col("p1.p_name"), F.lit("red widget"))).alias(
            "dist_ref"
        ),
    )


@op(
    "sql_api_query",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(o_totalprice), 2) AS avg_price
FROM orders
WHERE o_orderstatus <> 'P'
GROUP BY o_orderpriority
""",
    category=CAT,
)
def sql_api_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql string entry point (SURVEY.md §3.2): temp view +
    ANSI SQL — Catalyst produces the same plan as the DSL; registered
    once to cover the SQL-API capability row."""
    view = f"orders_v_{uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(avg(o_totalprice), 2) AS avg_price
        FROM {view}
        WHERE o_orderstatus <> 'P'
        GROUP BY o_orderpriority
        """
    )


@op(
    "sql_recursive_cte",
    oracle="""
WITH RECURSIVE months(m) AS (
  SELECT CAST(date_trunc('month', (SELECT min(CAST(o_orderdate AS DATE)) FROM orders)) AS DATE)
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
  WHERE m < (SELECT date_trunc('month', max(CAST(o_orderdate AS DATE))) FROM orders)
)
SELECT m AS month,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders
FROM months
LEFT JOIN orders ON CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) = m
GROUP BY 1
""",
    category=CAT,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (new in Spark 4): a recursive month spine from
    min to max order date, left-joined to per-month order counts —
    the standard complete-calendar query, expressed with the engine's
    own recursion instead of a driver-side sequence() (the
    calendar_spine_join op is the non-recursive formulation; this op
    pins the recursive-SQL surface itself, which DuckDB shares
    verbatim).

    Scale: the recursion generates O(months) rows on the driver-side
    plan — depth is bounded by the data's time span, and the join +
    aggregate are the usual keyed shuffle.  The date BOUNDS are hoisted
    into literals by one scalar aggregate first (round-4: leaving them
    as subqueries inside the recursive arm re-ran the full orders scan
    once PER RECURSION STEP — ~80 scans, 17.6 s at 10x; with hoisted
    bounds the op is one bounds scan + one join scan, 1.6 s).  The
    2-value collect is a scalar, not data, on the driver."""
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_rcte")
    lo, hi = orders.select(
        F.date_trunc("month", F.min(F.col("o_orderdate").cast("date"))).cast("date"),
        F.date_trunc("month", F.max(F.col("o_orderdate").cast("date"))).cast("date"),
    ).first()
    # Recursion depth must not scale 1:1 with the data's time span:
    # Spark's cteRecursionLevelLimit defaults to 100 levels, and a
    # month-per-step spine dies on any warehouse spanning >100 months
    # (round-8 degenerate-shape gate: one appended 2023 order against
    # the 1992-min fixture span raised RECURSION_LEVEL_LIMIT_EXCEEDED).
    # The spine now strides 12 months per recursive step and explodes
    # each stride into its months — same output, depth = span/12
    # (level-limit-safe to a 100-year span), recursive surface still
    # exercised.  The DuckDB oracle keeps the plain month recursion
    # (no level limit there).
    return spark.sql(
        f"""
WITH RECURSIVE strides(y) AS (
  SELECT DATE'{lo.isoformat()}'
  UNION ALL
  SELECT CAST(y + INTERVAL 12 MONTH AS DATE) FROM strides
  WHERE CAST(y + INTERVAL 12 MONTH AS DATE) <= DATE'{hi.isoformat()}'
),
months AS (
  SELECT explode(sequence(
           y,
           least(CAST(y + INTERVAL 11 MONTH AS DATE), DATE'{hi.isoformat()}'),
           INTERVAL 1 MONTH)) AS m
  FROM strides
)
SELECT m AS month,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders
FROM months
LEFT JOIN orders_rcte
  ON CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) = m
GROUP BY 1
"""
    )


@op(
    "scalar_url_parse",
    oracle="""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/' || lang || '/doc/'
           || CAST(doc_id AS VARCHAR) || '?len=' || CAST(n_chars AS VARCHAR)
           || '&lang=' || lang AS url
  FROM documents
)
SELECT doc_id,
       regexp_extract(url, 'https://([^/]+)/', 1)     AS host,
       regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '[?&]len=([^&]*)', 1)       AS len_param
FROM u
""",
    category=CAT,
)
def scalar_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url(HOST/PATH/QUERY,key) — the URL decomposition scalar
    family every web-corpus pipeline leans on (domain extraction for
    reputation gates, path/query canonicalization for URL dedup).
    URLs are synthesized deterministically from document metadata;
    the oracle mirrors each component with anchored regexes.
    Map-only: zero shuffles."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?len="),
        F.col("n_chars").cast("string"),
        F.lit("&lang="),
        F.col("lang"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("len")).alias("len_param"),
    )


@op(
    "sql_pipe_syntax_query",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS rev_em4
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag
""",
    category=CAT,
)
def sql_pipe_syntax_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (|>, new in Spark 4): the linear FROM |> WHERE
    |> EXTEND |> AGGREGATE form of a filter-derive-aggregate pipeline.
    Pipe operators compile to exactly the same logical plan as the
    nested-SELECT equivalent (the oracle), so pushdown/pruning/partial
    aggregation all still apply — this locks the SURFACE, not new
    semantics.  Exact integer cents x basis-points revenue."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_pipe")
    return spark.sql(
        """
FROM li_pipe
|> WHERE l_shipdate >= DATE '1995-01-01'
|> EXTEND CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev1
|> AGGREGATE CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rev1) AS BIGINT) AS rev_em4
   GROUP BY l_returnflag
"""
    ).select("l_returnflag", "n", "rev_em4")


@op(
    "sql_session_variables",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer
WHERE round(c_acctbal * 100) >= 500000
GROUP BY c_mktsegment
""",
    category=CAT,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE / SET VARIABLE, new in Spark 4):
    the engine-side parameterization surface — thresholds flow into
    queries as typed variables, not f-string splices (no quoting bugs,
    plans cache by variable reference).  Constant-folded at analysis
    time, so pushdown still sees the literal.  The oracle inlines the
    final variable value."""
    spark.sql("DECLARE OR REPLACE VARIABLE min_bal_cents BIGINT DEFAULT 0")
    spark.sql("SET VARIABLE min_bal_cents = 500000")
    load(spark, sf_dir, "customer").createOrReplaceTempView("cust_vars")
    return spark.sql(
        """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM cust_vars
WHERE round(c_acctbal * 100) >= min_bal_cents
GROUP BY c_mktsegment
"""
    )


@op(
    "str_collation_lcase",
    oracle="""
WITH m AS (
  SELECT c_custkey, c_mktsegment,
         upper(substr(c_name, 1, 5)) || lower(substr(c_name, 6)) AS mixed
  FROM customer
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN lower(mixed) = lower('Customer#000000001')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_match_ci,
       CAST(sum(CASE WHEN lower(mixed) < lower('Customer#000000500')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_lt_ci
FROM m GROUP BY c_mktsegment
""",
    category=CAT,
)
def str_collation_lcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (new in Spark 4): comparisons under
    UTF8_LCASE match and order case-insensitively WITHOUT rewriting
    every expression through lower() — the collation travels with the
    type, so the optimizer still sees sargable predicates.  Mixed-case
    strings are synthesized deterministically; equality and ordering
    comparisons under the collation are hash-checked against the
    explicit lower() spelling (equivalent for this ASCII domain —
    the oracle's portable form)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("cust_coll")
    return spark.sql(
        """
WITH m AS (
  SELECT c_custkey, c_mktsegment,
         collate(upper(substr(c_name, 1, 5)) || lower(substr(c_name, 6)),
                 'UTF8_LCASE') AS mixed
  FROM cust_coll
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN mixed = 'Customer#000000001' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_match_ci,
       CAST(sum(CASE WHEN mixed < 'Customer#000000500' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_lt_ci
FROM m GROUP BY c_mktsegment
"""
    )


@op(
    "scalar_from_csv_json",
    oracle="""
WITH s AS (
  SELECT event_id,
         CAST(json_extract(props, '$.k') AS INTEGER) AS k_json,
         CAST(event_id AS VARCHAR) || ',' || event_type || ','
           || CAST(round(value * 100) AS BIGINT) AS csv_line
  FROM events
),
p AS (
  SELECT event_id, k_json,
         string_split(csv_line, ',') AS f
  FROM s
)
SELECT event_id, k_json,
       f[2] AS etype,
       CAST(f[3] AS BIGINT) AS cents
FROM p
""",
    category=CAT,
)
def scalar_from_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-directed record parsing from STRINGS: from_json turns
    the props document into a typed struct (not path-plucking like
    get_json_object — the schema declares types once), and from_csv
    parses an embedded CSV line into a struct the same way — the
    pattern for Kafka-style payload columns.  Both parse JVM-side in
    one projection; zero shuffles before the output."""
    ev = load(spark, sf_dir, "events")
    csv_line = F.concat(
        F.col("event_id").cast("string"),
        F.lit(","),
        F.col("event_type"),
        F.lit(","),
        F.round(F.col("value") * 100).cast("bigint").cast("string"),
    )
    parsed = ev.select(
        "event_id",
        F.from_json("props", "k INT").alias("j"),
        F.from_csv(csv_line, "id BIGINT, etype STRING, cents BIGINT").alias("c"),
    )
    return parsed.select(
        "event_id",
        F.col("j.k").alias("k_json"),
        F.col("c.etype").alias("etype"),
        bigint(F.col("c.cents")).alias("cents"),
    )


@op(
    "array_sort_comparator",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
k AS (SELECT doc_id,
             list_sort(list_transform(w,
                x -> lpad(CAST(length(x) AS VARCHAR), 3, '0') || ':' || x)) AS sk
      FROM d),
s AS (SELECT doc_id,
             list_transform(sk, x -> substr(x, 5)) AS sorted_w
      FROM k)
SELECT doc_id,
       sorted_w[1] AS w1,
       sorted_w[2] AS w2,
       sorted_w[3] AS w3,
       sorted_w[-1] AS w_last
FROM s
""",
    category=CAT,
)
def array_sort_comparator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_sort with a CUSTOM COMPARATOR lambda — per-document words
    ordered by (length, then lexicographic), entirely JVM-side (no
    UDF, no explode/re-collect round trip).  The oracle spells the
    same order via the classic sort-key encoding (zero-padded length
    prefix), proving the comparator semantics.  Map-only."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    cmp = lambda l, r: (  # noqa: E731
        F.when(F.length(l) < F.length(r), F.lit(-1))
        .when(F.length(l) > F.length(r), F.lit(1))
        .when(l < r, F.lit(-1))
        .when(l > r, F.lit(1))
        .otherwise(F.lit(0))
    )
    s = d.select("doc_id", F.array_sort("w", cmp).alias("sorted_w"))
    # F.get, not [i]: a <3-word document must yield NULL for the
    # missing ranks the way DuckDB's out-of-bounds list index does —
    # ANSI [i] raises INVALID_ARRAY_INDEX (round-8 degenerate gate)
    return s.select(
        "doc_id",
        F.get("sorted_w", 0).alias("w1"),
        F.get("sorted_w", 1).alias("w2"),
        F.get("sorted_w", 2).alias("w3"),
        F.element_at("sorted_w", -1).alias("w_last"),
    )


@op(
    "str_regexp_count_instr",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, 'value')) AS BIGINT) AS n_value,
       CAST(strpos(text, 'value') AS BIGINT) AS first_value_pos,
       coalesce(nullif(regexp_extract(text, 'sp[a-z]+'), ''), '')
         AS first_sp_word
FROM documents
""",
    category=CAT,
)
def str_regexp_count_instr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_count / regexp_instr / regexp_substr (Spark 3.4+) — the
    occurrence-counting and position/extraction regex trio.  The
    oracle mirrors count via regexp_extract_all length, position via
    strpos (exact for this literal pattern), and first-match substring
    via regexp_extract.  Map-only; regex evaluation is JVM-side
    codegen."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        bigint(F.expr("regexp_count(text, 'value')")).alias("n_value"),
        bigint(F.expr("regexp_instr(text, 'value')")).alias("first_value_pos"),
        F.coalesce(F.expr("regexp_substr(text, 'sp[a-z]+')"), F.lit("")).alias(
            "first_sp_word"
        ),
    )


@op(
    "sql_parameterized_query",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE o_totalprice >= 150000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
    category=CAT,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL with NAMED MARKERS (spark.sql(..., args=...),
    Spark 3.4+): values bind as typed literals at parse time — no
    f-string splicing, no injection surface, and the optimizer sees
    real literals so pushdown/folding work exactly as with inline
    constants (the API twin of SQL session variables).  The oracle
    inlines the bound values."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("ord_param")
    return spark.sql(
        """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM ord_param
WHERE o_totalprice >= :min_price AND o_orderstatus = :status
GROUP BY o_orderpriority
""",
        args={"min_price": 150000.0, "status": "O"},
    )


@op(
    "sql_identifier_clause",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(c_custkey) AS BIGINT) AS min_key
FROM customer GROUP BY c_mktsegment
""",
    category=CAT,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IDENTIFIER() clause (Spark 3.4+): table and column names
    supplied as VALUES — templated SQL over dynamic object names
    without string concatenation (the injection-safe companion of
    parameter markers, which cannot bind identifiers).  Here both the
    table name and the grouping column arrive via IDENTIFIER(:param);
    the resolved plan is byte-identical to the static query."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("cust_ident")
    return spark.sql(
        """
SELECT IDENTIFIER(:grp_col) AS c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(IDENTIFIER(:key_col)) AS BIGINT) AS min_key
FROM IDENTIFIER(:tbl)
GROUP BY IDENTIFIER(:grp_col)
""",
        args={
            "tbl": "cust_ident",
            "grp_col": "c_mktsegment",
            "key_col": "c_custkey",
        },
    )


@op(
    "str_luhn_check",
    oracle="""
WITH t AS (
  SELECT o_orderkey,
         lpad(CAST(o_orderkey % 100000000 AS VARCHAR), 9, '0')
           || CAST(o_orderkey % 10 AS VARCHAR) AS acct
  FROM orders
),
v AS (
  SELECT o_orderkey, acct,
         list_sum(list_transform(range(1, length(acct) + 1),
           i -> CASE WHEN (length(acct) - i) % 2 = 1
                     THEN CASE WHEN 2 * CAST(acct[i] AS INT) > 9
                               THEN 2 * CAST(acct[i] AS INT) - 9
                               ELSE 2 * CAST(acct[i] AS INT) END
                     ELSE CAST(acct[i] AS INT) END)) % 10 AS m
  FROM t
)
SELECT CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN m = 0 THEN o_orderkey ELSE 0 END) AS BIGINT)
         AS valid_key_sum
FROM v
""",
    category=CAT,
)
def str_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """luhn_check (Spark 3.5+) — the mod-10 checksum validator for
    card/account-shaped identifiers, the classic PII-detection helper
    (a 16-digit string that PASSES Luhn is far more likely to be a
    real card number; text_pii_redact's regexes pair with this).
    Synthetic account strings derive from order keys; the oracle
    replays the doubling rule arithmetically digit-by-digit, so the
    validity partition itself is hash-checked.  Map-only + 1-row
    aggregate."""
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    acct = F.concat(
        F.lpad((F.col("o_orderkey") % 100000000).cast("string"), 9, "0"),
        (F.col("o_orderkey") % 10).cast("string"),
    )
    v = o.select(
        F.col("o_orderkey").alias("k"), acct.alias("acct")
    ).select("k", F.expr("luhn_check(acct)").alias("ok"))
    return v.agg(
        bigint(F.sum(F.when(F.col("ok"), 1).otherwise(0))).alias("n_valid"),
        bigint(F.count(F.lit(1))).alias("n_total"),
        bigint(F.sum(F.when(F.col("ok"), F.col("k")).otherwise(0))).alias(
            "valid_key_sum"
        ),
    )


@op(
    "str_format_printf",
    oracle="""
WITH f AS (
  SELECT printf('ORD-%08d/%s', o_orderkey,
                CASE WHEN o_orderstatus = 'O' THEN 'open' ELSE 'done' END)
           AS label,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT substr(label, 1, 6) AS prefix,
       substr(label, length(label) - 3) AS suffix,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(label)) AS BIGINT) AS label_chars,
       CAST(sum(cents) AS BIGINT) AS cents
FROM f GROUP BY prefix, suffix
""",
    category=CAT,
)
def str_format_printf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """format_string (printf-style templating — zero-padded ids,
    conditional segments): the display/export formatter.  Both engines
    implement C printf semantics for %d/%s, so the formatted strings
    are byte-identical; the aggregate hashes exact character mass per
    (prefix, suffix) class.  Map-only + aggregate."""
    o = load(spark, sf_dir, "orders")
    label = F.format_string(
        "ORD-%08d/%s",
        F.col("o_orderkey"),
        F.when(F.col("o_orderstatus") == "O", "open").otherwise("done"),
    )
    f = o.select(
        label.alias("label"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return f.groupBy(
        F.substring("label", 1, 6).alias("prefix"),
        F.expr("substr(label, length(label) - 3)").alias("suffix"),
    ).agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum(F.length("label"))).alias("label_chars"),
        bigint(F.sum("cents")).alias("cents"),
    )


@op(
    "sql_execute_immediate",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_totalprice > 200000.0
GROUP BY o_orderstatus
""",
    category=CAT,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4): run SQL text held in a session
    variable with positional USING parameters — the stored-query /
    metadata-driven-pipeline surface (query shapes live in a control
    table, parameters bind safely at execution).  Completes the
    dynamic-SQL quartet: variables, parameter markers, IDENTIFIER(),
    EXECUTE IMMEDIATE.  The executed text compiles to the same plan
    as the static oracle query."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("ord_exec")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE ord_query STRING DEFAULT "
        "'SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
        "CAST(max(o_orderkey) AS BIGINT) AS max_key "
        "FROM ord_exec WHERE o_totalprice > ? GROUP BY o_orderstatus'"
    )
    return spark.sql("EXECUTE IMMEDIATE ord_query USING 200000.0")


@op(
    "scalar_to_json_struct",
    oracle="""
WITH j AS (
  -- mirrors Spark to_json exactly, including its NULL-field OMISSION
  -- (a NULL event_type/value drops the key instead of nulling the
  -- whole doc — round-8 NULL-payload sweep)
  SELECT event_id,
         '{"uid":' || CAST(user_id AS VARCHAR)
           || CASE WHEN event_type IS NULL THEN ''
                   ELSE ',"type":"' || event_type || '"' END
           || CASE WHEN value IS NULL THEN ''
                   ELSE ',"cents":'
                        || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
              END
           || '}' AS doc
  FROM events
)
SELECT CAST(length(doc) % 7 AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(doc)) AS BIGINT) AS chars,
       CAST(sum(CAST(json_extract(doc, '$.cents') AS BIGINT)) AS BIGINT)
         AS cents
FROM j GROUP BY len_bucket
""",
    category=CAT,
)
def scalar_to_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_json over a named struct — the outbound serde surface
    (event payload publication).  Spark's compact JSON rendering
    ({"k":v, no spaces, struct field order) is byte-identical to the
    oracle's hand-concatenated document, so the exact character mass
    per length class hashes — a formatting drift (spacing, key order,
    float rendering) would fail loudly.  The cents field round-trips
    back out via json_extract inside the same aggregate.  Map-only +
    small aggregate."""
    ev = load(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("user_id").alias("uid"),
            F.col("event_type").alias("type"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    j = ev.select(doc.alias("doc"))
    return j.groupBy((F.length("doc") % 7).cast("bigint").alias("len_bucket")).agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum(F.length("doc"))).alias("chars"),
        bigint(
            F.sum(F.get_json_object("doc", "$.cents").cast("bigint"))
        ).alias("cents"),
    )


@op(
    "sql_pivot_unpivot",
    oracle="""
SELECT o_orderpriority AS pri,
       'y' || CAST(year(o_orderdate) AS VARCHAR) AS yr,
       round(sum(o_totalprice), 2) AS amount
FROM orders GROUP BY 1, 2
""",
    category=CAT,
)
def sql_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-syntax PIVOT -> UNPIVOT round trip (Spark 3.4+ clauses,
    distinct from the DataFrame .pivot() surface pivot_wide covers):
    priority x year revenue pivoted to wide columns, then unpivoted
    back to long form in the same query.  UNPIVOT drops NULL cells,
    so the round trip lands exactly on the groups present in the data
    — which is precisely the plain GROUP BY the oracle runs.  The
    pivot compiles to one partial/final aggregate (the year IN-list is
    derived from the data below, scale-free); no row explosion anywhere.

    The IN-list is DERIVED from min/max(year(o_orderdate)) — a 1-row
    aggregate over one pruned column — rather than hard-coded, so an
    order outside a assumed span can never be silently dropped by the
    PIVOT while the oracle's GROUP BY keeps it (ADVICE r4 item 1).
    A >100-column span fails loudly: that would mean corrupt dates,
    not a wide pivot."""
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_pv")
    lo, hi = orders.select(
        F.min(F.year("o_orderdate")), F.max(F.year("o_orderdate"))
    ).first()
    # Explicit raise, not assert: the guard must survive `python -O`
    # (ADVICE r5 item 4) — it is the only thing preventing an unbounded
    # (or None-year) PIVOT IN-list on corrupt dates.
    if lo is None or hi - lo >= 100:
        raise ValueError(f"sql_pivot_unpivot: orders year span corrupt: {lo}..{hi}")
    years = range(lo, hi + 1)
    years_in = ", ".join(f"{y} AS y{y}" for y in years)
    years_out = ", ".join(f"y{y}" for y in years)
    return spark.sql(
        f"""
WITH base AS (
  SELECT o_orderpriority AS pri, year(o_orderdate) AS y, o_totalprice
  FROM orders_pv
),
wide AS (
  SELECT * FROM base
  PIVOT (round(sum(o_totalprice), 2) FOR y IN ({years_in}))
)
SELECT pri, yr, amount
FROM wide UNPIVOT (amount FOR yr IN ({years_out}))
"""
    )


@op(
    "sql_group_order_by_all",
    oracle="""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY ALL
ORDER BY ALL NULLS LAST
LIMIT 40
""",
    category=CAT,
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUP BY ALL / ORDER BY ALL syntax surface (Spark 3.4+ /
    DuckDB-originated sugar): every non-aggregate select item groups,
    every output column orders — the form analysts actually write.
    Compiles to exactly the explicit-list plan (one partial/final agg
    + output sort), proven by the value-hash against DuckDB's native
    GROUP BY ALL."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_gba")
    return spark.sql(
        """
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM docs_gba
GROUP BY ALL
ORDER BY ALL NULLS LAST
LIMIT 40
"""
    )


@op(
    "sql_values_inline_table",
    oracle="""
WITH sev(pri, severity) AS (
  VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3),
         ('4-NOT SPECIFIED', 4), ('5-LOW', 5)
)
SELECT severity,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN sev ON sev.pri = o_orderpriority
GROUP BY severity
""",
    category=CAT,
)
def sql_values_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES relation joined to a fact table — the config/seed
    -table-in-the-query surface (severity mapping here) every SQL user
    reaches for before a dim table exists.  The 5-row VALUES relation
    broadcasts; the plan is otherwise the plain dim-join aggregate."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_vit")
    return spark.sql(
        """
SELECT severity,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders_vit
JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3),
             ('4-NOT SPECIFIED', 4), ('5-LOW', 5)) AS sev(pri, severity)
  ON sev.pri = o_orderpriority
GROUP BY severity
"""
    )


@op(
    "sql_offset_fetch",
    oracle="""
SELECT o_orderkey,
       round(o_totalprice, 2) AS total
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15 OFFSET 30
""",
    category=CAT,
)
def sql_offset_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-less pagination surface: ORDER BY ... LIMIT 15 OFFSET 30
    (page 3 of a 15-row listing, deterministic orderkey tiebreak) —
    the SQL pagination every BI tool emits.  The docstring carries the
    scale caveat the op exists to teach: OFFSET n scans and discards n
    rows per page, so deep pagination at 100 TB belongs to keyset
    (WHERE key > last_seen) pagination; this op is the surface, the
    limit_topk family is the plan discipline.

    Scale: Spark compiles limit+offset to a bounded global take
    (CollectLimit with offset), not a full sort materialization."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_pg")
    return spark.sql(
        """
SELECT o_orderkey,
       round(o_totalprice, 2) AS total
FROM orders_pg
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15 OFFSET 30
"""
    )


@op(
    "array_explode_outer",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         list_filter({_duck_words()}, x -> x = 'nonexistent_zz') AS hits
  FROM documents WHERE doc_id < 50
),
x AS (
  SELECT doc_id, unnest(CASE WHEN len(hits) = 0 THEN [NULL] ELSE hits END)
           AS hit
  FROM d
)
SELECT doc_id, coalesce(hit, '<none>') AS hit,
       CAST(CASE WHEN hit IS NULL THEN 0 ELSE 1 END AS BIGINT) AS matched
FROM x
""",
    category=CAT,
)
def array_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer NULL semantics: rows whose array is EMPTY survive
    the explode as a single NULL row — the LEFT-JOIN-like flattening
    every "find matches but keep non-matching parents" query needs
    (plain explode silently drops empty-array parents, the classic
    row-loss bug).  The filter here matches nothing, so every parent
    row exercises the outer path; DuckDB lacks unnest-outer and
    emulates with a CASE-to-[NULL] wrap, which is exactly the
    documented rewrite for engines without it.

    Scale: map-side — explode_outer is a generator, no shuffle."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id",
        F.filter(_words(), lambda x: x == "nonexistent_zz").alias("hits"),
    )
    x = d.select("doc_id", F.explode_outer("hits").alias("hit"))
    return x.select(
        "doc_id",
        F.coalesce(F.col("hit"), F.lit("<none>")).alias("hit"),
        bigint(F.when(F.col("hit").isNull(), 0).otherwise(1)).alias("matched"),
    )


@op(
    "sql_named_window_clause",
    oracle="""
SELECT o_custkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
            AS BIGINT) AS running_cents
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    category=CAT,
)
def sql_named_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL WINDOW clause: one NAMED window definition shared by
    several window functions (row_number + a running sum; the
    (orderdate, orderkey) ordering is total, so the default RANGE
    frame equals ROWS and both engines agree row-exactly) — the
    define-once-use-many surface that keeps analyst SQL maintainable,
    and the declaration that lets the planner prove both functions
    share ONE sort.  Identical syntax in Spark and DuckDB.

    Scale: both functions evaluate in a single Window operator over
    one user-keyed sort — the named clause is the textual form of the
    shared-window discipline the DataFrame ops in this repo apply via
    reused Window specs."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_nw")
    return spark.sql(
        """
SELECT o_custkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
            AS BIGINT) AS running_cents
FROM orders_nw
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""
    )


@op(
    "sql_cluster_by_surface",
    oracle="""
SELECT event_type,
       epoch_us(ts) // 3600000000 % 24 AS hod,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY event_type, epoch_us(ts) // 3600000000 % 24
""",
    category=CAT,
)
def sql_cluster_by_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-specific DISTRIBUTE BY / CLUSTER BY SQL surface:
    declaratively requests the output be hash-partitioned (and
    within-partition sorted) on a key — the SQL-text way to
    pre-partition ahead of a downstream co-partitioned consumer
    (bucketed writes, repeated self-joins), where DataFrame code
    would call repartition+sortWithinPartitions.  The RESULT SET is
    identical to the plain GROUP BY (the oracle), which is the point:
    CLUSTER BY changes layout, never semantics.

    Scale: adds exactly one declared Exchange (the one the consumer
    would otherwise trigger implicitly); no extra data movement."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events_cb")
    return spark.sql(
        """
SELECT event_type,
       unix_micros(ts) div 3600000000 % 24 AS hod,
       CAST(count(*) AS BIGINT) AS n
FROM events_cb
GROUP BY event_type, unix_micros(ts) div 3600000000 % 24
CLUSTER BY event_type
"""
    )
