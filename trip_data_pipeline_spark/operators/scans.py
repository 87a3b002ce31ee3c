"""§2.1 Scans, sources, sinks (SURVEY.md §2.1).

Scale notes: parquet scans get predicate pushdown, column pruning and
row-group skipping from Catalyst for free; the partitioned sink writes
the directory layout (partitionBy date) that enables partition pruning
at 100 TB — the publish step of the reference pipeline generalized.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import SCHEMAS, load, table_path
from trip_data_pipeline_spark.operators.common import (
    as_date,
    bigint,
    r2,
    range_parts,
    scratch_dir,
)
from trip_data_pipeline_spark.registry import op

CAT = "2.1 scans/sources/sinks"


@op(
    "scan_parquet",
    oracle="""
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       CAST(l_shipdate AS DATE) AS l_shipdate
FROM lineitem
""",
    category=CAT,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table parquet scan, all columns — SURVEY.md §2.1 row 1.

    Raw doubles are bit-identical across engines (no aggregation);
    only the timestamp is normalized to DATE (§5.3 rule 2)."""
    li = load(spark, sf_dir, "lineitem")
    cols = [c for c in li.columns if c != "l_shipdate"]
    return li.select(*cols, as_date(F.col("l_shipdate")).alias("l_shipdate"))


@op(
    "scan_explicit_schema",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    category=CAT,
)
def scan_explicit_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read with an explicit StructType (no inference) — SURVEY.md §2.1
    row 2."""
    return spark.read.schema(SCHEMAS["customer"]).parquet(
        table_path(sf_dir, "customer")
    )


@op(
    "scan_multi_sf_union",
    oracle="""
SELECT c_name AS name, 'customer' AS src, c_acctbal AS acctbal FROM customer
UNION ALL
SELECT s_name AS name, 'supplier' AS src, s_acctbal AS acctbal FROM supplier
""",
    category=CAT,
)
def scan_multi_sf_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two files unioned by name — multi-feed ingestion — SURVEY.md §2.1
    row 3."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.lit("customer").alias("src"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("src"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return c.unionByName(s)


@op(
    "sink_parquet_partitioned",
    oracle="""
SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS o_year,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY 1
""",
    category=CAT,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write partitioned-by-year parquet, read back, count per partition
    — SURVEY.md §2.1 row 4.

    Hash-checked since round 3: parquet round-trips losslessly, so the
    per-partition aggregate over the read-back directory must equal the
    same aggregate computed directly on the source table — the oracle
    verifies the write+read cycle end to end, not just that it ran.

    The partition column becomes the directory key: at 100 TB this
    layout gives static+dynamic partition pruning on the publish side.
    """
    out = scratch_dir(prefix="sink_parquet_")
    o = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year(as_date(F.col("o_orderdate")))
    )
    o.write.mode("overwrite").partitionBy("o_year").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_year")
        .agg(bigint(F.count(F.lit(1))).alias("n"), r2(F.sum("o_totalprice")).alias("total"))
    )


@op(
    "sink_csv_roundtrip",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
       round(sum(p_retailprice), 2) AS total_price
FROM part
""",
    category=CAT,
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV publish + schema-on-read ingest round trip — SURVEY.md §2.1
    row 5.

    Hash-checked since round 3: Spark writes doubles via Java's
    shortest-round-trip Double.toString and parses them back exactly,
    so the post-roundtrip aggregate must equal the source-table
    aggregate — a lossy CSV cycle would hash-mismatch."""
    out = scratch_dir(prefix="sink_csv_")
    p = load(spark, sf_dir, "part")
    p.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(SCHEMAS["part"]).option("header", True).csv(out)
    return back.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.countDistinct("p_brand")).alias("n_brands"),
        r2(F.sum("p_retailprice")).alias("total_price"),
    )


@op(
    "scan_json_props",
    oracle="""
SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1
""",
    category=CAT,
)
def scan_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column parsed with an explicit schema —
    SURVEY.md §2.1 row 6."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(F.from_json(F.col("props"), "k INT").getField("k").alias("k"))
        .groupBy("k")
        .agg(bigint(F.count(F.lit(1))).alias("n"))
    )


@op(
    "scan_csv_options",
    oracle="""
SELECT o_orderkey, o_orderstatus,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice
FROM orders
""",
    category=CAT,
)
def scan_csv_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-default CSV dialect round trip, hash-checked against the
    source table: '|' delimiter, explicit null token, header, explicit
    schema on read (no inference — inference is a full extra pass at
    scale).  Doubles survive exactly because Spark's CSV writer emits
    shortest-roundtrip decimal strings; the oracle is simply the
    original table, so the whole write+read dialect path must be
    lossless."""
    out = scratch_dir(prefix="scan_csv_opts_")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_totalprice",
    )
    (
        o.write.mode("overwrite")
        .option("header", True)
        .option("sep", "|")
        .option("nullValue", "\\N")
        .csv(out)
    )
    return (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, o_orderdate date, o_totalprice double"
        )
        .option("header", True)
        .option("sep", "|")
        .option("nullValue", "\\N")
        .csv(out)
    )


@op(
    "layout_partition_sort",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
FROM orders WHERE extract(year FROM o_orderdate) = 1995
""",
    category=CAT,
)
def layout_partition_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side data layout: range-repartition by (year, custkey),
    sort within partitions, write partitioned-by-year parquet; read
    back one partition.  Hash-checked lossless vs a direct filter of
    the source.  At 100 TB this is the publish layout that makes the
    read side cheap: directory-level partition pruning on o_year
    (asserted in tests/test_plans.py) plus clustered o_custkey so
    parquet row-group min/max statistics prune within files."""
    out = scratch_dir(prefix="layout_psort_")
    o = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year(as_date(F.col("o_orderdate")))
    )
    (
        # Session-derived write fan-out (same fixed-parallelism class
        # as scan_parquet_row_group_prune, VERDICT r8 item 6): values
        # and pruning are layout-local, the count is parallelism only.
        o.repartitionByRange(range_parts(spark), "o_year", "o_custkey")
        .sortWithinPartitions("o_year", "o_custkey")
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("o_year") == 1995)
    return back.select(
        "o_orderkey", "o_custkey", r2(F.col("o_totalprice")).alias("o_totalprice")
    )


def _duck_zval() -> str:
    """DuckDB-side 16-bit Morton (z-order) interleave of
    (o_custkey % 256, floor(o_totalprice/2000) % 256)."""
    xs = "(o_custkey % 256)"
    ys = "(CAST(floor(o_totalprice / 2000) AS BIGINT) % 256)"
    terms = []
    for i in range(8):
        terms.append(f"((({xs} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ys} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _spark_zval():
    """Spark-side Morton interleave, same bit layout as _duck_zval."""
    xs = F.col("o_custkey") % 256
    ys = F.floor(F.col("o_totalprice") / 2000).cast("bigint") % 256
    z = F.lit(0)
    for i in range(8):
        z = z + F.shiftleft(F.shiftright(xs, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(ys, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


@op(
    "layout_zorder_cluster",
    oracle=f"""
WITH z AS (SELECT o_custkey, {_duck_zval()} AS zval FROM orders)
SELECT CAST(zval // 1024 AS BIGINT)      AS z_bucket,
       CAST(count(*) AS BIGINT)          AS n,
       CAST(min(o_custkey) AS BIGINT)    AS min_custkey,
       CAST(max(o_custkey) AS BIGINT)    AS max_custkey,
       CAST(min(zval) AS BIGINT)         AS min_z,
       CAST(max(zval) AS BIGINT)         AS max_z
FROM z GROUP BY 1 ORDER BY z_bucket
""",
    category=CAT,
)
def layout_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional clustering key: 16-bit Morton (z-order)
    interleave of two dimensions, then per-z-range stats.  This is the
    Delta/Iceberg OPTIMIZE ZORDER layout primitive: range-partitioning
    on zval keeps BOTH o_custkey and o_totalprice locally dense in each
    file, so min/max statistics prune on either dimension.  The
    interleave is pure integer bit arithmetic — identical on both
    engines, hash-checked per bucket."""
    o = load(spark, sf_dir, "orders")
    z = o.select("o_custkey", _spark_zval().alias("zval"))
    return (
        z.groupBy((F.col("zval") / 1024).cast("bigint").alias("z_bucket"))
        .agg(
            bigint(F.count(F.lit(1))).alias("n"),
            bigint(F.min("o_custkey")).alias("min_custkey"),
            bigint(F.max("o_custkey")).alias("max_custkey"),
            bigint(F.min("zval")).alias("min_z"),
            bigint(F.max("zval")).alias("max_z"),
        )
        .orderBy("z_bucket")
    )


@op("layout_compact_small_files", oracle=None, category=CAT)
def layout_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a 64-way fragmented events table is
    rewritten to 4 right-sized files with row-count parity asserted in
    the output.  The 100 TB housekeeping op — streaming ingest leaves
    thousands of small files per partition; periodic compaction
    restores scan efficiency (fewer tasks, bigger sequential reads).
    Rows-only: side-effecting."""
    import os as _os

    frag = scratch_dir(prefix="layout_frag_")
    compact = scratch_dir(prefix="layout_compact_")
    ev = load(spark, sf_dir, "events")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    n_files_before = len([f for f in _os.listdir(frag) if f.endswith(".parquet")])
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    n_files_after = len([f for f in _os.listdir(compact) if f.endswith(".parquet")])
    back = spark.read.parquet(compact)
    return spark.createDataFrame(
        [(n_files_before, n_files_after, ev.count(), back.count())],
        "n_files_before int, n_files_after int, n_rows_src long, n_rows_compacted long",
    )


@op(
    "scan_schema_evolution_merge",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_qty,
       CAST(sum(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_price,
       CAST(sum(CASE WHEN l_orderkey % 2 = 0
                     THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
         AS total_qty,
       CAST(sum(CASE WHEN l_orderkey % 2 = 1
                     THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS total_price_cents
FROM lineitem
""",
    category=CAT,
)
def scan_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations with different
    column sets (an old writer without l_extendedprice, a new one
    without l_quantity) land in one directory; `mergeSchema=true`
    unifies them, null-filling the missing columns per file.  The
    oracle recomputes the same totals from the base table, so the
    merged read must be lossless.  At scale, schema merge costs one
    footer pass over files (not data) — the standard upgrade path when
    a pipeline adds columns without rewriting history."""
    li = load(spark, sf_dir, "lineitem")
    out = scratch_dir(prefix="schema_evo_")
    old_gen = li.filter(F.col("l_orderkey") % 2 == 0).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    new_gen = li.filter(F.col("l_orderkey") % 2 == 1).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    old_gen.write.mode("overwrite").parquet(f"{out}/gen=0")
    new_gen.write.mode("overwrite").parquet(f"{out}/gen=1")
    merged = spark.read.option("mergeSchema", True).parquet(f"{out}/gen=0", f"{out}/gen=1")
    return merged.agg(
        bigint(F.count("*")).alias("n_rows"),
        bigint(F.count("l_quantity")).alias("n_with_qty"),
        bigint(F.count("l_extendedprice")).alias("n_with_price"),
        bigint(F.sum(F.coalesce(F.col("l_quantity").cast("bigint"), F.lit(0)))).alias(
            "total_qty"
        ),
        bigint(
            F.sum(
                F.coalesce(
                    F.round(F.col("l_extendedprice") * 100).cast("bigint"), F.lit(0)
                )
            )
        ).alias("total_price_cents"),
    )


N_CORRUPT = 3


@op(
    "scan_csv_malformed_permissive",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_good,
       CAST({N_CORRUPT} AS BIGINT) AS n_corrupt,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM nation
""",
    category=CAT,
)
def scan_csv_malformed_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record ingestion: a CSV publish of `nation` plus 3
    injected garbage lines, read back in PERMISSIVE mode with a
    `_corrupt_record` column — good rows parse, bad rows quarantine
    instead of failing the job.  The oracle pins the expected good /
    corrupt split against the base table.  This is the ingest contract
    a 100 TB pipeline needs at the edge: schema-on-read with explicit
    quarantine, never inference, never abort-on-first-error."""
    import os

    out = scratch_dir(prefix="csv_malformed_")
    n = load(spark, sf_dir, "nation")
    n.coalesce(1).write.mode("overwrite").csv(f"{out}/data")
    # NB: must not start with "_" or "." — Spark's file index skips
    # those as metadata/hidden files and the garbage would never load.
    with open(os.path.join(out, "data", "zz-garbage.csv"), "w") as fh:
        for i in range(N_CORRUPT):
            fh.write(f"not-a-key,garbage-row-{i},also-not-a-key\n")
    schema = (
        "n_nationkey int, n_name string, n_regionkey int, _corrupt_record string"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(f"{out}/data")
        .cache()
    )
    good = back.filter(F.col("_corrupt_record").isNull())
    bad = back.filter(F.col("_corrupt_record").isNotNull())
    return good.agg(
        bigint(F.count("*")).alias("n_good"),
        bigint(F.sum("n_nationkey")).alias("key_sum"),
    ).crossJoin(bad.agg(bigint(F.count("*")).alias("n_corrupt"))).select(
        "n_good", "n_corrupt", "key_sum"
    )


# Deterministic region->event_type map shared by the op and its oracle
# (both engines derive the probe set from the SAME filtered dim).
_DPP_TYPES = ["click", "error", "purchase", "signup", "view"]


@op(
    "scan_partitioned_dpp",
    oracle=f"""
WITH dim AS (
  SELECT CASE r_regionkey
           WHEN 0 THEN '{_DPP_TYPES[0]}' WHEN 1 THEN '{_DPP_TYPES[1]}'
           WHEN 2 THEN '{_DPP_TYPES[2]}' WHEN 3 THEN '{_DPP_TYPES[3]}'
           ELSE '{_DPP_TYPES[4]}' END AS event_type,
         r_name
  FROM region WHERE r_regionkey IN (1, 3)
)
SELECT e.event_type, d.r_name,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(floor(e.value * 100 + 0.5)) AS BIGINT) AS value_cents
FROM events e JOIN dim d USING (event_type)
GROUP BY e.event_type, d.r_name
""",
    category=CAT,
)
def scan_partitioned_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact is published PARTITIONED BY
    event_type, the probe set comes from a FILTERED dim (not a literal
    predicate), and Catalyst injects the dim's join keys as a runtime
    PartitionFilter on the fact scan — only the matching partition
    directories are ever read (`dynamicpruningexpression` in the scan,
    locked in tests/test_plans.py).

    At 100 TB this is the difference between scanning 2 of 1000 date
    partitions and scanning them all when the date set comes from a
    lookup table: static pruning cannot see through the join, DPP
    reuses the broadcast dim to prune at file-listing time.  The
    partitioned publish uses the same layout as
    sink_parquet_partitioned; integer-cent sums keep the aggregate
    order-exact."""
    out = scratch_dir(prefix="dpp_events_")
    ev = load(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = load(spark, sf_dir, "region").filter(
        F.col("r_regionkey").isin(1, 3)
    ).select(
        F.element_at(
            F.array(*[F.lit(t) for t in _DPP_TYPES]),
            F.col("r_regionkey").cast("int") + 1,
        ).alias("event_type"),
        "r_name",
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type", "r_name")
        .agg(
            bigint(F.count(F.lit(1))).alias("n"),
            bigint(F.sum(cents)).alias("value_cents"),
        )
    )


@op(
    "sink_json_roundtrip",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
""",
    category=CAT,
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON lines publish + schema-on-read ingest round trip.

    Hash-checked since round 3: the JSON cycle is lossless for these
    types, so the post-roundtrip aggregate must equal the same
    aggregate on the source table."""
    out = scratch_dir(prefix="sink_json_")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double"
    ).json(out)
    return back.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        r2(F.sum("o_totalprice")).alias("total"),
    )


@op(
    "sink_orc_roundtrip",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
       round(sum(p_retailprice), 2) AS total_price
FROM part
""",
    category=CAT,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC publish + ingest round trip — second columnar format
    besides parquet.  Hash-checked since round 3: ORC round-trips
    losslessly, so the post-roundtrip aggregate must equal the
    source-table aggregate."""
    out = scratch_dir(prefix="sink_orc_")
    p = load(spark, sf_dir, "part")
    p.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.countDistinct("p_brand")).alias("n_brands"),
        r2(F.sum("p_retailprice")).alias("total_price"),
    )


@op(
    "scan_metadata_row_index",
    oracle="""
SELECT CAST(event_id % 7 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS sum_ri,
       CAST(count(*) AS BIGINT) AS n_match
FROM events GROUP BY bucket
""",
    category=CAT,
)
def scan_metadata_row_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden `_metadata` file-source column family:
    `_metadata.row_index` exposes each row's physical position in its
    parquet file — the zero-cost stable row identity a pipeline uses
    for resumable scans and row-level lineage (no window, no
    monotonically_increasing_id non-determinism).  The fixture's
    events file is written in event_id order with event_id dense from
    0, so row_index must equal event_id exactly — n_match counts the
    equality per bucket and the oracle replays it as count(*): ANY
    divergence between physical position and the metadata column
    breaks the hash.

    ADVICE r3: that premise silently requires ONE data file —
    row_index resets per file, so a multi-file fixture would fail as
    an opaque hash mismatch.  Assert the layout loudly instead, from
    the files Spark lists for the scan (so on any URI it reads)."""
    path = f"{sf_dir}/events.parquet"
    ev = spark.read.parquet(path).select(
        F.col("_metadata.row_index").alias("ri"), "event_id"
    )
    n_files = len(ev.inputFiles())
    if n_files != 1:
        raise AssertionError(
            f"scan_metadata_row_index premise broken: {path} holds "
            f"{n_files} data files; row_index==event_id only holds "
            "for a single dense, event_id-ordered file"
        )
    return ev.groupBy((F.col("ri") % 7).cast("bigint").alias("bucket")).agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("ri")).alias("sum_ri"),
        bigint(F.sum(F.when(F.col("ri") == F.col("event_id"), 1).otherwise(0))).alias(
            "n_match"
        ),
    )


@op(
    "scan_binary_files",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id < 64
""",
    category=CAT,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` source — whole-file ingestion of opaque
    payloads (the on-ramp for image/audio corpora: one row per file
    with path, length, and raw bytes).

    Setup materializes the first 64 documents as individual files;
    the scan reads them back whole-file and the oracle checks byte
    length and content md5 against the source rows — a truncated or
    corrupted read would hash-mismatch.

    Scale: binaryFile is a FileFormat scan like parquet — splits are
    whole files, listing is distributed, and pathGlobFilter/
    recursiveFileLookup prune at listing time.  The per-file payload
    stays in one row, so downstream decode parallelism is per-file
    (pair with mapInPandas decoders, cf. multimodal_decode_ppm)."""
    out = scratch_dir(prefix="binsrc_")
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id", "text")
        .collect()
    )
    for row in docs:
        with open(os.path.join(out, f"doc_{row.doc_id}.txt"), "wb") as fh:
            fh.write(row.text.encode("utf-8"))
    b = spark.read.format("binaryFile").load(out)
    return b.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt", 1)
        .cast("bigint")
        .alias("doc_id"),
        bigint(F.col("length")).alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@op(
    "scan_python_datasource",
    oracle="""
SELECT CAST(i AS BIGINT) AS i, CAST(i * i AS BIGINT) AS sq
FROM range(0, 1000) t(i)
""",
    category=CAT,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON DataSource (the Spark 4 `pyspark.sql.datasource`
    API): a user-defined source with its own partition planning and
    per-partition reader — the extension point for ingesting from
    systems Spark has no built-in connector for (internal APIs, custom
    binary stores) while keeping the scan DISTRIBUTED (each
    InputPartition reads independently on an executor).

    The demo source emits a deterministic integer sequence across 8
    planned partitions; the oracle recomputes it relationally, so a
    partition-planning bug (dropped/duplicated partition) breaks the
    hash."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SquaresReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(p) for p in range(8)]

        def read(self, partition):
            p = partition.value
            for i in range(p * 125, (p + 1) * 125):
                yield (i, i * i)

    class _SquaresSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "deterministic_squares"

        def schema(self) -> str:
            return "i bigint, sq bigint"

        def reader(self, schema):
            return _SquaresReader()

    try:
        spark.dataSource.register(_SquaresSource)
    except Exception:
        pass  # already registered in this session
    return spark.read.format("deterministic_squares").load()


@op(
    "scan_xml_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders WHERE o_orderkey % 7 = 0
GROUP BY 1
""",
    category=CAT,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML publish + schema-on-read ingest round trip (XML
    support is built into Spark 4 — no spark-xml package): write a
    deterministic orders slice as row-tagged XML, read it back with an
    explicit schema, aggregate, and hash-check against the same
    aggregate on the source table (the lossless-cycle oracle class) —
    a row dropped by tag mismatch or a double mangled by text
    round-tripping breaks the hash."""
    out = scratch_dir(prefix="xmlsrc_") + "/orders"
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    (
        o.write.format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .mode("overwrite")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey bigint, o_orderpriority string, o_totalprice double")
        .load(out)
    )
    return back.groupBy("o_orderpriority").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        r2(F.sum("o_totalprice")).alias("total"),
    )


@op(
    "scan_range_generator",
    oracle="""
SELECT CAST(x % 7 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(x) AS BIGINT) AS s,
       CAST(sum(x * x) AS BIGINT) AS ss
FROM range(1, 100001) t(x)
GROUP BY bucket
""",
    category=CAT,
)
def scan_range_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `range` generator source: spark.range(1, 100001) produces
    rows *in the executors* (numPartitions splits of the id space, no
    driver materialization, no input files) — the standard way to
    synthesize spines, fuzz inputs, and load generators at cluster
    scale.  DuckDB's table function range() is the oracle mirror.
    The aggregate proves no id is dropped or doubled across the
    partition splits (sum and sum-of-squares over each residue
    class)."""
    r = spark.range(1, 100001).select(F.col("id").alias("x"))
    return r.groupBy((F.col("x") % 7).cast("bigint").alias("bucket")).agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("x")).alias("s"),
        bigint(F.sum(F.col("x") * F.col("x"))).alias("ss"),
    )


@op(
    "sink_dynamic_partition_overwrite",
    oracle="""
WITH b AS (SELECT o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
f AS (SELECT o_orderpriority,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN (cents * 9) // 10 ELSE cents END AS cents
      FROM b)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(cents) / 100.0, 2) AS total
FROM f GROUP BY o_orderpriority
""",
    category=CAT,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse partition-replace
    primitive: a full partitioned write, then a second overwrite-mode
    write that carries ONLY the 1-URGENT partition (a 10% price cut,
    exact integer cents) with partitionOverwriteMode=dynamic.  Static
    overwrite would TRUNCATE the table to the one incoming partition;
    dynamic replaces exactly the partitions present in the new data
    and leaves the other four untouched — the read-back aggregate
    hash-proves both halves (urgent rows updated, others intact).

    Scale: partition-granular replacement is O(changed partition), not
    O(table) — the daily-restatement pattern for partitioned facts."""

    out = scratch_dir(prefix="sink_dpo_")
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderpriority",
    )
    base.write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
    upd = (
        base.filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumn("cents", F.expr("(cents * 9) div 10"))
    )
    (
        upd.write.partitionBy("o_orderpriority")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out)
    )
    rb = spark.read.parquet(out)
    return rb.groupBy("o_orderpriority").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        F.round(F.sum("cents") / 100.0, 2).alias("total"),
    )


@op(
    "scan_csv_multiline_quotes",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(c_name || chr(10) || 'line2,"q"' )) AS BIGINT) AS chars,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents
FROM customer GROUP BY c_mktsegment
""",
    category=CAT,
)
def scan_csv_multiline_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 4180 multiline CSV round trip: fields containing embedded
    newlines, commas AND double quotes are written quoted (escape='"'
    gives the standard doubled-quote form) and read back with
    multiLine=true.  The lossless-cycle aggregate (row count, exact
    character mass including the newline, integer cents) breaks if
    the reader splits records on embedded newlines or mangles quotes.

    Scale note: multiLine=true makes CSV files unsplittable (a record
    boundary can't be found mid-file), so at cluster scale this is for
    many-medium-files layouts — exactly how the option behaves here,
    one file per shuffle partition."""

    out = scratch_dir(prefix="csv_multiline_")
    src = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit('\nline2,"q"')).alias("text"),
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    (
        src.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(out)
    )
    rb = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("c_custkey bigint, text string, c_mktsegment string, cents bigint")
        .csv(out)
    )
    return rb.groupBy("c_mktsegment").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum(F.length("text"))).alias("chars"),
        bigint(F.sum("cents")).alias("cents"),
    )


@op(
    "scan_text_lines",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(text)) AS BIGINT) AS chars,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents GROUP BY lang
""",
    category=CAT,
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `text` source: one record per LINE — the rawest corpus
    interchange format (and the one every crawl dump starts as).
    Documents are published as doc_id<TAB>lang<TAB>text lines and
    re-ingested with spark.read.text + split_part projection; the
    lossless-cycle aggregate (count, exact char mass, id checksum per
    lang) fails if any line splits, drops, or mangles.  Text files
    split by line at any byte offset, so unlike multiline CSV this
    source stays fully splittable at 100 TB."""

    out = scratch_dir(prefix="text_lines_")
    # NULL-safe TSV: concat_ws SKIPS null fields, silently shifting
    # every later column left (round-8 NULL-payload sweep: a NULL lang
    # put the text in the lang field).  NULLs are encoded as the
    # classic \\N sentinel and decoded back symmetrically.
    nul = "\\N"
    src = load(spark, sf_dir, "documents").select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("lang"), F.lit(nul)),
            F.coalesce(F.col("text"), F.lit(nul)),
        ).alias("value")
    )
    src.write.mode("overwrite").text(out)
    rb = spark.read.text(out).select(
        F.split_part(F.col("value"), F.lit("\t"), F.lit(1)).cast("bigint").alias(
            "doc_id"
        ),
        F.nullif(
            F.split_part(F.col("value"), F.lit("\t"), F.lit(2)), F.lit(nul)
        ).alias("lang"),
        F.nullif(
            F.split_part(F.col("value"), F.lit("\t"), F.lit(3)), F.lit(nul)
        ).alias("text"),
    )
    return rb.groupBy("lang").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum(F.length("text"))).alias("chars"),
        bigint(F.sum("doc_id")).alias("id_sum"),
    )


@op(
    "sink_compressed_roundtrip",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM lineitem GROUP BY l_returnflag
""",
    category=CAT,
)
def sink_compressed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-explicit parquet cycle: write with zstd (the 100 TB
    default — ~2x better ratio than snappy at similar scan speed,
    splittable because parquet compresses per-page), read back, and
    hash-prove losslessness.  Codec choice is a table-level knob a
    petabyte lake gets right once; the cycle check catches a codec
    that silently truncates or corrupts."""

    out = scratch_dir(prefix="zstd_cycle_")
    src = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    src.write.mode("overwrite").option("compression", "zstd").parquet(out)
    rb = spark.read.parquet(out)
    return rb.groupBy("l_returnflag").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("cents")).alias("cents"),
    )


@op(
    "scan_parquet_row_group_prune",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY o_orderpriority
""",
    category=CAT,
)
def scan_parquet_row_group_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group (zone-map) pruning round trip: write orders
    range-partitioned + sorted by o_orderdate with SMALL parquet row
    groups (parquet.block.size=128 KiB), then read back through a raw
    timestamp range predicate.  Because the layout is date-sorted,
    parquet min/max statistics prune whole row groups before
    decompression — with the pushed filter asserted in
    tests/test_plans.py.  Hash-checked lossless against the same
    filter+agg on the source table.

    At 100 TB this sort-on-write + stats-prune-on-read pair is the
    single highest-leverage scan optimization there is: a day's query
    over a year's table touches ~1/365 of the row groups.  The same
    sorted layout is what layout_partition_sort publishes at directory
    granularity; this op proves the WITHIN-file granularity."""
    out = scratch_dir(prefix="rg_prune_")
    o = load(spark, sf_dir, "orders")
    (
        # Write fan-out derives from the session (range_parts — VERDICT
        # r8 item 6): a literal 4 pins the sort+write stage to 4 tasks
        # at any scale.  Pruning effectiveness is layout-local (each
        # range partition is date-sorted regardless of how many there
        # are), so the count only affects write parallelism.
        o.repartitionByRange(range_parts(spark), "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.option("parquet.block.size", 131072)
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return back.groupBy("o_orderpriority").agg(
        bigint(F.count(F.lit(1))).alias("n_orders"),
        r2(F.sum("o_totalprice")).alias("revenue"),
    )
