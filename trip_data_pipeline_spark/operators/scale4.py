"""§2.18 analytics-completeness operators (round-3, tranches 3-10).

Rounds out: graph analytics (degree-oriented triangle counting,
majority-vote label propagation, BFS distance), corpus curation
(CCNet-style LM quality gate, n-gram novelty, the 4-signal ensemble
gate, BPE apply-merge), eval-as-query index-quality gates (ANN
recall@5, MinHash/LSH recall+precision), sequential-state ops via
Arrow grouped maps (gap+cap sessionization, CUSUM drift — both with
recursive-CTE oracle replays), the sweep-line concurrency and
geo-fence dwell primitives, distributed contiguous-id assignment, the
remaining window/aggregate surface (nth_value/cume_dist, FILTER
clause, bitmap-exact distinct, IGNORE NULLS navigation, rank-with-
ties), scan/sink completions (range generator, dynamic partition
overwrite, multiline CSV, text lines, zstd cycle, _metadata
row_index), and the Spark-4 SQL surfaces (pipe syntax, session
variables, parameter markers, IDENTIFIER(), collations, lateralJoin,
null-aware anti join).  All hash-checked under the round-3
cross-engine exactness conventions: every ranking / membership
decision is integer arithmetic, derived reals are output-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import (
    bigint,
    r4,
    range_parts,
    scratch_dir,
    spread,
)
from trip_data_pipeline_spark.operators.corpus2 import word_ngrams, words_of
from trip_data_pipeline_spark.operators.graph import _copart_edges
from trip_data_pipeline_spark.registry import op
from trip_data_pipeline_spark.session import one_wave_partitions

CAT = "2.18 analytics completeness (round-3 additions)"


# --------------------------------------------------------------------------
# Triangle counting — degree-ordered orientation
# --------------------------------------------------------------------------

_TRI_EDGES_DUCK = """
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e AS (SELECT DISTINCT a.p AS src, b.p AS dst
      FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
o AS (SELECT e.src AS u, e.dst AS v
      FROM e JOIN deg du ON du.node = e.src JOIN deg dv ON dv.node = e.dst
      WHERE du.d < dv.d OR (du.d = dv.d AND e.src < e.dst)),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM o e1
        JOIN o e2 ON e2.u = e1.v
        JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v)
"""


@op(
    "graph_triangle_count",
    oracle=f"""
WITH {_TRI_EDGES_DUCK},
nodes AS (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS n_tri
FROM nodes GROUP BY node
ORDER BY n_tri DESC, node LIMIT 20
""",
    category="graph / iterative",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (top-20) on the part co-occurrence
    graph, via the classic degree-ordered orientation: each undirected
    edge is kept only in the direction (deg, id)-ascending, so every
    triangle is enumerated exactly once and — the scale point — each
    node's out-degree in the oriented graph is O(sqrt(m)) even on
    power-law graphs, bounding the wedge join that dominates triangle
    counting.  Both wedge-extension and closure checks are plain
    equi-joins (shuffle by node / by edge pair); no cartesian, no
    driver-side adjacency structure.  Ties in degree break by node id,
    so the orientation — and therefore the hash — is deterministic.
    """
    e = _copart_edges(spark, sf_dir)  # both directions of each edge
    deg = e.groupBy("src").agg(bigint(F.count(F.lit(1))).alias("d"))
    du = deg.select(F.col("src").alias("u_"), F.col("d").alias("du"))
    dv = deg.select(F.col("src").alias("v_"), F.col("d").alias("dv"))
    o = (
        e.join(du, e.src == du.u_)
        .join(dv, e.dst == dv.v_)
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    e1 = o.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = o.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(bigint(F.count(F.lit(1))).alias("n_tri"))
        .select(bigint(F.col("node")).alias("node"), "n_tri")
        .orderBy(F.desc("n_tri"), "node")
        .limit(20)
    )


# --------------------------------------------------------------------------
# LM-based document quality score — CCNet-style corpus filter
# --------------------------------------------------------------------------


@op(
    "lm_doc_quality_ppm",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))) AS gram
      FROM d),
m AS (SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1 FROM g),
c AS (SELECT doc_id,
             count(*) OVER (PARTITION BY gram) AS c2,
             count(*) OVER (PARTITION BY w1) AS c1
      FROM m),
s AS (SELECT doc_id, (1000000 * c2) // c1 AS p_ppm FROM c)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(p_ppm) // count(*) AS BIGINT) AS score_ppm,
       CAST(CASE WHEN sum(p_ppm) // count(*) < 33000 THEN 1 ELSE 0 END AS BIGINT)
         AS low_quality
FROM s GROUP BY doc_id
""",
    category=CAT,
)
def lm_doc_quality_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality gate: score every document by the mean
    corpus-bigram conditional probability of its own bigrams —
    low-scoring documents are "surprising" under the corpus model
    (mojibake, boilerplate soup, wrong-language shards) and get
    flagged.  P(w2|w1) is computed in exact integer ppm
    ((1e6 * c(w1,w2)) // c(w1·)) so DuckDB replays the whole model
    bit-identically; the doc score is the floor-mean of its bigram
    instance scores.

    Scale: join-free — both model counts ride count() windows over the
    bigram-instance stream (partition by gram, partition by w1), so
    the corpus model is never materialized or broadcast; the stream is
    shuffled twice by bounded-vocabulary keys and once by doc_id.  The
    same shape as eval_contamination_ngram (the no-corpus-sized-
    broadcast rule)."""
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", word_ngrams(words_of(), 2).alias("grams")
    )
    g = d.select("doc_id", F.explode("grams").alias("gram")).withColumn(
        "w1", F.split("gram", " ")[0]
    )
    c2 = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    c1 = F.count(F.lit(1)).over(Window.partitionBy("w1"))
    s = g.select(
        "doc_id", (1000000 * c2).alias("_num"), c1.alias("_den")
    ).withColumn("p_ppm", F.expr("_num div _den"))
    score = F.expr("sum(p_ppm) div count(1)")
    return s.groupBy("doc_id").agg(
        bigint(F.count(F.lit(1))).alias("n_bigrams"),
        bigint(score).alias("score_ppm"),
        bigint(F.when(score < 33000, 1).otherwise(0)).alias("low_quality"),
    )


# --------------------------------------------------------------------------
# nth_value / cume_dist — remaining §2.5 window surface
# --------------------------------------------------------------------------


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
    category="2.5 window functions",
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


# --------------------------------------------------------------------------
# range generator source
# --------------------------------------------------------------------------


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
    category="2.1 scans/sources/sinks",
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


# --------------------------------------------------------------------------
# Exact contingency table — the df.stat surface
# --------------------------------------------------------------------------

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
    category="extras (round-1 additions)",
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


# --------------------------------------------------------------------------
# Seasonal (day-of-week) baseline + robust residual anomalies
# --------------------------------------------------------------------------


@op(
    "timeseries_seasonal_residual",
    oracle="""
WITH e AS (SELECT ((epoch_us(ts) // 1000000) // 86400 + 4) % 7 AS dow,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
s1 AS (SELECT dow, CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
       FROM e GROUP BY dow),
d AS (SELECT e.dow, abs(e.cents * s1.c - s1.s) AS dev, s1.c
      FROM e JOIN s1 ON e.dow = s1.dow),
s2 AS (SELECT dow, sum(dev) // max(c) AS a FROM d GROUP BY dow)
SELECT d.dow,
       CAST(max(d.c) AS BIGINT) AS n,
       CAST(sum(CASE WHEN d.dev > 3 * s2.a THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
       CAST(max(d.dev) AS BIGINT) AS max_dev
FROM d JOIN s2 ON d.dow = s2.dow
GROUP BY d.dow
""",
    category="2.14 time-series rollups",
)
def timeseries_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: each event's value is
    compared against its day-of-week mean, and an event is anomalous
    when its deviation exceeds 3x the day-of-week mean absolute
    deviation — the weekday/weekend traffic-pattern outlier sweep.

    Exactness: day-of-week is pure integer epoch arithmetic (1970-01-01
    was a Thursday; no engine-specific dayofweek numbering), and the
    mean comparison is cross-multiplied (|v*c - S| vs the floor-div MAD
    scale) so no division ever happens on the decision path.

    Scale: the seasonal profile is ALGEBRAIC, so it reduces by
    partial aggregation to 7 rows which broadcast back onto the
    stream — deliberately NOT a count() window over dow (7 giant
    window partitions would serialize at cluster scale).  Two
    broadcast joins, three map-side-combining aggregations."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        F.expr("((unix_micros(ts) div 1000000) div 86400 + 4) % 7").alias("dow"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    s1 = e.groupBy("dow").agg(
        bigint(F.sum("cents")).alias("s"), bigint(F.count(F.lit(1))).alias("c")
    )
    d = e.join(F.broadcast(s1), "dow").select(
        "dow", F.abs(F.col("cents") * F.col("c") - F.col("s")).alias("dev"), "c"
    )
    s2 = d.groupBy("dow").agg(F.expr("sum(dev) div max(c)").alias("a"))
    return (
        d.join(F.broadcast(s2), "dow")
        .groupBy("dow")
        .agg(
            bigint(F.max("c")).alias("n"),
            bigint(
                F.sum(F.when(F.col("dev") > 3 * F.col("a"), 1).otherwise(0))
            ).alias("n_anom"),
            bigint(F.max("dev")).alias("max_dev"),
        )
    )


# --------------------------------------------------------------------------
# Distributed contiguous id assignment — the two-pass offset pattern
# --------------------------------------------------------------------------


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


# --------------------------------------------------------------------------
# Dynamic partition overwrite — the lakehouse partition-replace primitive
# --------------------------------------------------------------------------


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
    category="2.1 scans/sources/sinks",
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


# --------------------------------------------------------------------------
# Gap + max-duration sessionization — sequential state via applyInPandas
# --------------------------------------------------------------------------


@op(
    "sessionize_gap_and_cap",
    oracle="""
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) AS t, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
r AS (
  SELECT user_id, rn, t, t AS sess_start, 1 AS sess
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.t,
         CASE WHEN e.t - r.t > 1800000000 OR e.t - r.sess_start > 7200000000
              THEN e.t ELSE r.sess_start END,
         r.sess + CASE WHEN e.t - r.t > 1800000000
                         OR e.t - r.sess_start > 7200000000
                       THEN 1 ELSE 0 END
  FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
),
sessions AS (
  SELECT user_id, sess, count(*) AS n_ev,
         (max(t) - min(t)) // 1000000 AS dur_s
  FROM r GROUP BY user_id, sess
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(max(n_ev) AS BIGINT) AS max_events,
       CAST(sum(dur_s) AS BIGINT) AS total_dur_s
FROM sessions GROUP BY user_id
""",
    category="2.9 streaming (batch form)",
)
def sessionize_gap_and_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH a 30-min inactivity gap and a 2-hour
    maximum session duration.  The cap makes this genuinely
    sequential: whether event i opens a new session depends on the
    running session start, which depends on every earlier break — no
    window/gaps-and-islands form exists (the plain gap rule is
    `sessionize_batch`; this is the variant Spark's built-ins can't
    express).  Per the brief, that's exactly when to drop to
    applyInPandas: per-user Arrow batches, a linear int64-µs scan per
    user, state bounded by one user's events.  The DuckDB oracle
    replays the same recurrence as a recursive CTE over per-user event
    ranks — depth = max events per user, work O(total events).

    Scale: one shuffle by user_id; session state never leaves the
    executor.  Skewed users bound the worst task at |events(u)|.

    Round-12 (guide §4.2/§4.5): was groupBy(user).applyInPandas — one
    Python call + one pandas DataFrame construction PER USER (~10k
    sub-millisecond groups at sf0.1, pure per-group overhead).  Now a
    partition-scan mapInPandas over repartition(user) +
    sortWithinPartitions(user, t, event_id): the JVM does the sort
    once, each task walks its whole partition's columns with
    carry-over state across Arrow batches, and the per-group Python
    overhead disappears.  Same recurrence, same one shuffle."""
    import pandas as pd

    # explicit partition count: AQE would coalesce a bare
    # repartition(col) of this small input to 1 partition, serializing
    # the Python scan, and cannot coalesce an explicit one — so one
    # task wave (more tasks than cores only add per-task Python cost)
    n_parts = one_wave_partitions(spark)
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", F.expr("unix_micros(ts)").alias("t"), "event_id")
        .repartition(n_parts, "user_id")
        .sortWithinPartitions("user_id", "t", "event_id")
    )

    GAP = 1800 * 1000000
    CAP = 7200 * 1000000

    def sess_scan(batches):
        uid = None
        n_sessions = max_events = total_dur = cur_n = 0
        cur_start = prev = None
        out_u, out_s, out_m, out_d = [], [], [], []

        def flush():
            total = total_dur + (prev - cur_start) // 1000000
            out_u.append(uid)
            out_s.append(n_sessions)
            out_m.append(max(max_events, cur_n))
            out_d.append(total)

        for pdf in batches:
            # Python lists, not per-row numpy scalar indexing: ~1.8x less
            # CPU for this loop and the CUSUM one on sf0.1 events (CHANGES.md)
            for u, t in zip(pdf["user_id"].tolist(), pdf["t"].tolist()):
                if u != uid:
                    if uid is not None:
                        flush()
                    uid = u
                    n_sessions = max_events = total_dur = cur_n = 0
                    cur_start = prev = None
                if cur_start is None or t - prev > GAP or t - cur_start > CAP:
                    if cur_start is not None:
                        total_dur += (prev - cur_start) // 1000000
                        max_events = max(max_events, cur_n)
                    n_sessions += 1
                    cur_start = t
                    cur_n = 0
                cur_n += 1
                prev = t
        if uid is not None:
            flush()
        yield pd.DataFrame(
            {
                "user_id": out_u,
                "n_sessions": out_s,
                "max_events": out_m,
                "total_dur_s": out_d,
            }
        )

    return ev.mapInPandas(
        sess_scan,
        schema="user_id bigint, n_sessions bigint, max_events bigint, total_dur_s bigint",
    )


# --------------------------------------------------------------------------
# Bitmap-exact distinct counting — the roaring-style JVM agg surface
# --------------------------------------------------------------------------


@op(
    "agg_bitmap_distinct",
    oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS nd
FROM events GROUP BY event_type
""",
    category="2.4 aggregation",
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


# --------------------------------------------------------------------------
# lead/lag IGNORE NULLS — sparse-column window navigation
# --------------------------------------------------------------------------


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
    category="2.5 window functions",
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


# --------------------------------------------------------------------------
# parse_url — the URL decomposition surface
# --------------------------------------------------------------------------


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
    category="2.8 scalar functions",
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


# --------------------------------------------------------------------------
# N-gram novelty — incremental-corpus "what's new in this doc" signal
# --------------------------------------------------------------------------


@op(
    "corpus_ngram_novelty",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(w) - 2),
                                   i -> array_to_string(w[i:i+3], ' '))) AS gram
      FROM d),
m AS (SELECT doc_id, gram,
             min(doc_id) OVER (PARTITION BY gram) AS first_doc
      FROM g)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST((1000000 * sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END))
              // count(*) AS BIGINT) AS novelty_ppm
FROM m GROUP BY doc_id
""",
    category=CAT,
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty against the corpus in doc_id
    (ingestion) order: a 4-gram instance is NOVEL if no earlier
    document contains that gram — i.e. this doc is the min(doc_id)
    owner.  The per-doc novelty ratio is the signal an incremental
    crawl uses to decide whether a recrawled page adds anything
    (RefinedWeb-style "new content share").

    Scale: join-free — first-owner is a min() window over the gram
    partition (the no-corpus-sized-broadcast rule again); one gram
    shuffle + one doc shuffle, integer-ppm ratio."""
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", word_ngrams(words_of(), 4).alias("grams")
    )
    g = d.select("doc_id", F.explode("grams").alias("gram"))
    first_doc = F.min("doc_id").over(Window.partitionBy("gram"))
    m = g.withColumn("novel", F.when(F.col("doc_id") == first_doc, 1).otherwise(0))
    return m.groupBy("doc_id").agg(
        bigint(F.count(F.lit(1))).alias("n_grams"),
        bigint(F.sum("novel")).alias("n_novel"),
        bigint(F.expr("(1000000 * sum(novel)) div count(1)")).alias("novelty_ppm"),
    )


# --------------------------------------------------------------------------
# mapInArrow — the zero-copy Arrow-native batch map surface
# --------------------------------------------------------------------------


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
    category="2.10 UDF surface",
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


# --------------------------------------------------------------------------
# Matryoshka embedding truncation — prefix-dim mass retention
# --------------------------------------------------------------------------


@op(
    "embed_matryoshka_truncate",
    oracle="""
WITH q AS (SELECT vec_id,
                  list_transform(embedding,
                                 x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS e
           FROM embeddings)
SELECT vec_id,
       CAST(list_inner_product(e[1:16], e[1:16]) AS BIGINT) AS prefix_sq,
       CAST(list_inner_product(e, e) AS BIGINT)             AS full_sq,
       CAST(CASE WHEN list_inner_product(e, e) = 0 THEN NULL
                 ELSE (1000000 * CAST(list_inner_product(e[1:16], e[1:16]) AS BIGINT))
                        // CAST(list_inner_product(e, e) AS BIGINT)
            END AS BIGINT) AS retention_ppm,
       CAST(CASE WHEN 4 * CAST(list_inner_product(e[1:16], e[1:16]) AS BIGINT)
                      >= CAST(list_inner_product(e, e) AS BIGINT)
                 THEN 1 ELSE 0 END AS BIGINT) AS prefix_ok
FROM q
""",
    category="2.11 similarity search",
)
def embed_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style embedding truncation audit: how much squared
    mass does the 16-dim prefix of each (quantized) embedding retain,
    and does it clear the 25% gate that would let the ANN index store
    only the prefix?  All decisions are exact integers (quantized
    millis -> integer dot products, cross-multiplied gate, floor-div
    ppm).  Map-only: zero shuffles, the same fused higher-order-fold
    shape as the other embedding ops."""
    from trip_data_pipeline_spark.operators.similarity import qvec

    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", qvec().alias("e")
    )
    isum = lambda c: F.aggregate(c, F.lit(0.0), lambda s, x: s + x)  # noqa: E731
    pref = F.slice(F.col("e"), 1, 16)
    prefix_sq = isum(F.zip_with(pref, pref, lambda a, b: a * b))
    full_sq = isum(F.zip_with(F.col("e"), F.col("e"), lambda a, b: a * b))
    # the quantized sums are exact integers (< 2^53) held as doubles;
    # cast to BIGINT before the div so the ppm is true integer floor
    # division (a float divide + floor could flip at a boundary)
    with_sq = e.select(
        "vec_id",
        bigint(prefix_sq).alias("prefix_sq"),
        bigint(full_sq).alias("full_sq"),
    )
    return with_sq.select(
        "vec_id",
        "prefix_sq",
        "full_sq",
        # zero vector: retention undefined -> NULL in both engines
        # (round-8 degenerate gate; ANSI integer div raised here)
        bigint(
            F.expr(
                "CASE WHEN full_sq = 0 THEN NULL"
                " ELSE (1000000 * prefix_sq) div full_sq END"
            )
        ).alias("retention_ppm"),
        bigint(
            F.when(4 * F.col("prefix_sq") >= F.col("full_sq"), 1).otherwise(0)
        ).alias("prefix_ok"),
    )


# --------------------------------------------------------------------------
# SQL pipe syntax — the Spark 4 composable-SQL surface
# --------------------------------------------------------------------------


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
    category="2.8 scalar functions",
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


# --------------------------------------------------------------------------
# SQL session variables — parameterized SQL without string templating
# --------------------------------------------------------------------------


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
    category="2.8 scalar functions",
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


# --------------------------------------------------------------------------
# lateralJoin DataFrame API — per-row correlated top-k without SQL
# --------------------------------------------------------------------------


@op(
    "join_lateral_api_topk",
    oracle="""
WITH r AS (
  SELECT c_nationkey, c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY round(c_acctbal * 100) DESC, c_custkey) AS rn
  FROM customer
)
SELECT c_nationkey, c_custkey, bal_cents
FROM r WHERE rn <= 2
""",
    category="2.3 joins",
)
def join_lateral_api_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.lateralJoin (new DataFrame API in Spark 4): for every nation
    key, the correlated top-2 customers by balance — the API twin of
    the SQL LATERAL in lateral_correlated_topk.  The outer() marker
    names the correlated column; Catalyst decorrelates the
    limit-per-key subquery (same rewrite family as the window form the
    oracle uses).  Deterministic: integer cents + key tie-break."""
    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    nations = cust.select("c_nationkey").distinct()
    inner = (
        cust.alias("c")
        .where(F.col("c.c_nationkey") == F.col("n_key").outer())
        .orderBy(F.desc("bal_cents"), "c_custkey")
        .limit(2)
        .select("c_custkey", "bal_cents")
    )
    return (
        nations.withColumnRenamed("c_nationkey", "n_key")
        .lateralJoin(inner)
        .select(
            F.col("n_key").alias("c_nationkey"), "c_custkey", "bal_cents"
        )
    )


# --------------------------------------------------------------------------
# Null-aware anti join — NOT IN over a nullable subquery
# --------------------------------------------------------------------------


@op(
    "join_null_aware_anti",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE o_custkey NOT IN (
  SELECT CASE WHEN c_acctbal < -100000 THEN NULL ELSE c_custkey END
  FROM customer WHERE c_mktsegment = 'BUILDING'
)
GROUP BY o_orderpriority
""",
    category="2.3 joins",
)
def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a NULLABLE subquery — three-valued logic makes this
    a different operator from anti-join: one NULL in the subquery
    empties the whole result, so Catalyst must plan a null-aware anti
    join (broadcast NAAJ) instead of a plain LeftAnti.  The CASE
    branch keeps the column nullable (exercising the null-aware path)
    while never firing at runtime, so the result is non-degenerate and
    the oracle replays the identical three-valued semantics."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    o.createOrReplaceTempView("ord_naaj")
    c.createOrReplaceTempView("cust_naaj")
    return spark.sql(
        """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM ord_naaj
WHERE o_custkey NOT IN (
  SELECT CASE WHEN c_acctbal < -100000 THEN NULL ELSE c_custkey END
  FROM cust_naaj WHERE c_mktsegment = 'BUILDING'
)
GROUP BY o_orderpriority
"""
    )


# --------------------------------------------------------------------------
# Nearest-hub assignment — broadcast argmin spatial join
# --------------------------------------------------------------------------

# 8 fixed hubs in centi-degrees (the domain of geo._LAT/LON_CENTI)
_HUBS = [
    (2000, 4000), (4500, 9000), (7000, 14000), (9500, 19000),
    (12000, 24000), (14500, 29000), (16000, 33000), (1000, 35000),
]


def _hub_min_expr(lat: str, lon: str) -> str:
    """Encoded argmin over the 8 hubs: min(dist * 8 + hub_id) with
    exact integer squared centi-degree distances — deterministic ties
    (lower hub id wins).  Renders identically in Spark SQL and DuckDB.
    """
    terms = [
        f"(({lat} - {hl}) * ({lat} - {hl}) + ({lon} - {hn}) * ({lon} - {hn})) * 8 + {i}"
        for i, (hl, hn) in enumerate(_HUBS)
    ]
    return "least(" + ", ".join(terms) + ")"


@op(
    "geo_nearest_hub",
    oracle=f"""
WITH pts AS (
  SELECT ((user_id * 7919 + event_id * 13) % 17000) AS la,
         ((user_id * 104729 + event_id * 31) % 36000) AS lo
  FROM events
),
a AS (SELECT {_hub_min_expr('la', 'lo')} AS enc FROM pts)
SELECT CAST(enc % 8 AS BIGINT) AS hub,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(enc // 8) AS BIGINT) AS sum_d2,
       CAST(max(enc // 8) AS BIGINT) AS max_d2
FROM a GROUP BY hub
""",
    category="2.13 geo trip analytics",
)
def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub assignment: every event point snaps to the closest
    of 8 fixed hubs (depots / zones) — the small-side spatial nearest
    join.  With a constant hub list the argmin unrolls into a fused
    least() over 8 exact integer squared distances (encoded dist*8+id
    so ties break deterministically by hub id): map-only, zero
    shuffle, no join at all — the shape to choose when the 'join'
    side fits in an expression, let alone a broadcast.  Per-hub load
    report is a tiny aggregate."""
    ev = load(spark, sf_dir, "events").select(
        F.expr("((user_id * 7919 + event_id * 13) % 17000)").alias("la"),
        F.expr("((user_id * 104729 + event_id * 31) % 36000)").alias("lo"),
    )
    a = ev.select(F.expr(_hub_min_expr("la", "lo")).alias("enc"))
    return a.groupBy((F.col("enc") % 8).cast("bigint").alias("hub")).agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.expr("sum(enc div 8)")).alias("sum_d2"),
        bigint(F.expr("max(enc div 8)")).alias("max_d2"),
    )


# --------------------------------------------------------------------------
# Multiline quoted CSV — RFC 4180 embedded newlines/quotes/commas
# --------------------------------------------------------------------------


@op(
    "scan_csv_multiline_quotes",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(c_name || chr(10) || 'line2,"q"' )) AS BIGINT) AS chars,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents
FROM customer GROUP BY c_mktsegment
""",
    category="2.1 scans/sources/sinks",
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


# --------------------------------------------------------------------------
# FILTER (WHERE ...) aggregate clause
# --------------------------------------------------------------------------


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
    category="2.4 aggregation",
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


# --------------------------------------------------------------------------
# Collated comparison — the Spark 4 collation surface
# --------------------------------------------------------------------------


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
    category="2.8 scalar functions",
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


# --------------------------------------------------------------------------
# from_json / from_csv — schema-directed string record parsing
# --------------------------------------------------------------------------


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
    category="2.8 scalar functions",
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


# --------------------------------------------------------------------------
# Label propagation — majority-vote community labels, 2 supersteps
# --------------------------------------------------------------------------

_LP_EDGES_DUCK = """
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e AS (SELECT DISTINCT a.p AS src, b.p AS dst
      FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p),
n AS (SELECT DISTINCT src AS node FROM e),
l0 AS (SELECT node, node % 5 AS lab FROM n)
"""


def _lp_step_duck(prev: str, out: str) -> str:
    """One majority-vote superstep as DuckDB CTEs: count neighbor
    labels, argmax by (count desc, label asc) via the exact integer
    encoding max(cnt*8 + 7 - lab) (labels < 8, so the tail decodes
    the label); isolated nodes keep their label (none exist here —
    every node has an edge by construction)."""
    return f"""
c_{out} AS (
  SELECT e.dst AS node, {prev}.lab AS lab, count(*) AS cnt
  FROM e JOIN {prev} ON {prev}.node = e.src
  GROUP BY 1, 2
),
{out} AS (
  SELECT node, 7 - (max(cnt * 8 + 7 - lab) % 8) AS lab
  FROM c_{out} GROUP BY node
)"""


@op(
    "graph_label_propagation",
    oracle=f"""
WITH {_LP_EDGES_DUCK},
{_lp_step_duck('l0', 'l1')},
{_lp_step_duck('l1', 'l2')}
SELECT CAST(lab AS BIGINT) AS lab,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(sum(node) AS BIGINT) AS node_sum
FROM l2 GROUP BY lab
""",
    category="graph / iterative",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous majority-vote label
    propagation (2 unrolled supersteps over the part co-occurrence
    graph, seeded node%5): each node adopts the most frequent label
    among its neighbors, ties to the smallest label — the exact
    integer argmax encoding max(cnt*8 + 7 - lab) makes the vote
    bit-reproducible in any aggregation order, so DuckDB replays both
    supersteps identically.  Per superstep: one keyed edge join + two
    partial/final aggregations — the same bounded-superstep shape as
    PageRank/CC; no convergence probe, no driver-side graph."""
    e = _copart_edges(spark, sf_dir)
    labels = e.select("src").distinct().select(
        F.col("src").alias("node"), (F.col("src") % 5).alias("lab")
    )
    for _ in range(2):
        votes = (
            e.join(labels, e.src == labels.node)
            .groupBy(F.col("dst"), F.col("lab"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.groupBy("dst")
            .agg((7 - (F.max(F.col("cnt") * 8 + 7 - F.col("lab")) % 8)).alias("lab"))
            .select(F.col("dst").alias("node"), "lab")
        )
    return labels.groupBy(bigint(F.col("lab")).alias("lab")).agg(
        bigint(F.count(F.lit(1))).alias("n_nodes"),
        bigint(F.min("node")).alias("min_node"),
        bigint(F.sum("node")).alias("node_sum"),
    )


# --------------------------------------------------------------------------
# Geo-fence dwell time — gaps-and-islands over fence membership
# --------------------------------------------------------------------------


@op(
    "geo_fence_dwell_time",
    oracle="""
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         ((user_id * 7919 + event_id * 13) % 17000) AS la,
         ((user_id * 104729 + event_id * 31) % 36000) AS lo
  FROM events
),
f AS (
  SELECT user_id, event_id, us,
         CASE WHEN la >= 4000 AND la < 9000
               AND lo >= 10000 AND lo < 20000 THEN 1 ELSE 0 END AS inf
  FROM p
),
m AS (
  SELECT user_id, event_id, us, inf,
         CASE WHEN inf = 1 AND coalesce(lag(inf) OVER w, 0) = 0
              THEN 1 ELSE 0 END AS entered
  FROM f
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
i AS (
  SELECT user_id, us, inf,
         sum(entered) OVER (PARTITION BY user_id ORDER BY us, event_id) AS visit
  FROM m
),
v AS (
  SELECT user_id, visit, count(*) AS n_ev,
         (max(us) - min(us)) // 1000000 AS dwell_s
  FROM i WHERE inf = 1 GROUP BY user_id, visit
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_visits,
       CAST(sum(n_ev) AS BIGINT) AS n_fence_events,
       CAST(sum(dwell_s) AS BIGINT) AS total_dwell_s,
       CAST(max(dwell_s) AS BIGINT) AS max_dwell_s
FROM v GROUP BY user_id
""",
    category="2.13 geo trip analytics",
)
def geo_fence_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-fence dwell analysis: islands of consecutive in-fence
    pings per user (enter events via lag, visit ids via a running sum
    — the gaps-and-islands idiom), then per-visit dwell spans and the
    per-user rollup a fleet/zone dashboard needs.  The fence test is
    pure integer centi-degree arithmetic; dwell is exact integer µs
    floor-divided to seconds.  Both windows and the final two
    aggregations ride ONE user-keyed shuffle."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("((user_id * 7919 + event_id * 13) % 17000)").alias("la"),
        F.expr("((user_id * 104729 + event_id * 31) % 36000)").alias("lo"),
    )
    inf = (
        (F.col("la") >= 4000)
        & (F.col("la") < 9000)
        & (F.col("lo") >= 10000)
        & (F.col("lo") < 20000)
    ).cast("int")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    f = ev.withColumn("inf", inf)
    entered = F.when(
        (F.col("inf") == 1) & (F.coalesce(F.lag("inf").over(w), F.lit(0)) == 0), 1
    ).otherwise(0)
    i = f.withColumn("visit", F.sum(entered).over(w)).filter(F.col("inf") == 1)
    v = i.groupBy("user_id", "visit").agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.expr("(max(us) - min(us)) div 1000000").alias("dwell_s"),
    )
    return v.groupBy("user_id").agg(
        bigint(F.count(F.lit(1))).alias("n_visits"),
        bigint(F.sum("n_ev")).alias("n_fence_events"),
        bigint(F.sum("dwell_s")).alias("total_dwell_s"),
        bigint(F.max("dwell_s")).alias("max_dwell_s"),
    )


# --------------------------------------------------------------------------
# array_sort with a custom comparator
# --------------------------------------------------------------------------


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
    category="2.8 scalar functions",
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


# --------------------------------------------------------------------------
# ANN recall@5 eval — the index-quality gate, computed in-engine
# --------------------------------------------------------------------------

_RECALL_DUCK_BASE = """
e AS (SELECT vec_id,
             list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS emb,
             CAST(embedding[1] > 0 AS INT) * 4
           + CAST(embedding[2] > 0 AS INT) * 2
           + CAST(embedding[3] > 0 AS INT) AS bucket
      FROM embeddings),
en AS (SELECT vec_id, emb, bucket,
              sqrt(list_inner_product(emb, emb)) AS nrm FROM e),
q AS (SELECT vec_id AS q_id, emb AS qe, nrm AS qn, bucket AS qb
      FROM en WHERE vec_id < 10),
bf AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, en.vec_id AS c_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY floor(list_inner_product(q.qe, en.emb)
                            / (q.qn * en.nrm) * 10000 + 0.5) DESC,
                      en.vec_id ASC) AS rn
    FROM q JOIN en ON en.vec_id <> q.q_id
    WHERE q.qn > 0 AND en.nrm > 0
  ) WHERE rn <= 5
),
ivf AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, en.vec_id AS c_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY floor(list_inner_product(q.qe, en.emb)
                            / (q.qn * en.nrm) * 10000 + 0.5) DESC,
                      en.vec_id ASC) AS rn
    FROM q JOIN en ON en.bucket = q.qb AND en.vec_id <> q.q_id
    WHERE q.qn > 0 AND en.nrm > 0
  ) WHERE rn <= 5
)
"""


@op(
    "sim_ann_recall_eval",
    oracle=f"""
WITH {_RECALL_DUCK_BASE}
SELECT bf.q_id,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(ivf.c_id) AS BIGINT) AS n_hit,
       CAST((1000000 * count(ivf.c_id)) // count(*) AS BIGINT) AS recall_ppm
FROM bf LEFT JOIN ivf ON ivf.q_id = bf.q_id AND ivf.c_id = bf.c_id
GROUP BY bf.q_id
""",
    category="2.11 similarity search",
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF octant index against exact brute force,
    computed IN-ENGINE per query — the index-quality gate an ANN
    deployment runs before trusting the pruned path (and the eval a
    training-data pipeline runs when it swaps brute-force dedup for
    bucketed).  Both pipelines rank on the integer-quantized cosine
    with id tie-breaks, so the top-5 sets — and therefore the recall
    — are deterministic in both engines.

    Scale: brute force here is the EVAL (10 probes broadcast), not the
    serving path; the IVF side stays a bucket equi-join.  Overlap is a
    (q_id, c_id) equi-join of two 50-row sets."""
    from trip_data_pipeline_spark.operators.similarity import dot, l2norm, qvec

    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        qvec().alias("emb"),
        l2norm(qvec()).alias("nrm"),
        (
            (F.col("embedding")[0] > 0).cast("int") * 4
            + (F.col("embedding")[1] > 0).cast("int") * 2
            + (F.col("embedding")[2] > 0).cast("int")
        ).alias("bucket"),
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qb"),
    )

    def top5(pairs):
        w = Window.partitionBy("q_id").orderBy(F.desc("qcos"), F.asc("c_id"))
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("q_id", "c_id")
        )

    qcos = F.floor(
        dot(F.col("qe"), F.col("emb")) / (F.col("qn") * F.col("nrm")) * 10000
        + F.lit(0.5)
    )
    # zero-norm exclusion on both sides (round-8 degenerate gate)
    qnz = q.filter(F.col("qn") > 0)
    enz = e.filter(F.col("nrm") > 0)
    bf = top5(
        F.broadcast(qnz)
        .crossJoin(enz)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"), qcos.alias("qcos"))
    )
    ivf = top5(
        F.broadcast(qnz)
        .join(enz, F.col("bucket") == F.col("qb"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"), qcos.alias("qcos"))
    )
    hit = ivf.withColumnRenamed("c_id", "h_id")
    j = bf.join(
        hit,
        (bf.q_id == hit.q_id) & (bf.c_id == hit.h_id),
        "left",
    ).select(bf.q_id.alias("qq"), "c_id", "h_id")
    return j.groupBy(F.col("qq").alias("q_id")).agg(
        bigint(F.count(F.lit(1))).alias("n_true"),
        bigint(F.count("h_id")).alias("n_hit"),
        bigint(F.expr("(1000000 * count(h_id)) div count(1)")).alias("recall_ppm"),
    )


# --------------------------------------------------------------------------
# BFS hop distance — min-plus supersteps from a seed set
# --------------------------------------------------------------------------

_BFS_EDGES_DUCK = """
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e AS (SELECT DISTINCT a.p AS src, b.p AS dst
      FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p),
d0 AS (SELECT DISTINCT src AS node, 0 AS d FROM e WHERE src % 10 = 0)
"""


def _bfs_step_duck(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM {prev}
    UNION ALL
    SELECT e.dst AS node, {prev}.d + 1 AS d
    FROM e JOIN {prev} ON {prev}.node = e.src
  ) GROUP BY node
)"""


@op(
    "graph_bfs_distance",
    oracle=f"""
WITH {_BFS_EDGES_DUCK},
{_bfs_step_duck('d0', 'd1')},
{_bfs_step_duck('d1', 'd2')},
{_bfs_step_duck('d2', 'd3')}
SELECT CAST(d AS BIGINT) AS dist,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS node_sum
FROM d3 GROUP BY d
""",
    category="graph / iterative",
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from a seed set (nodes ≡ 0 mod 10), 3 unrolled
    min-plus supersteps over the part co-occurrence graph — the
    reachability/radius primitive (and the fixed-depth skeleton of
    shortest-path).  Each superstep is one keyed edge join + a min()
    re-aggregation of (old ∪ relaxed) — min is order-insensitive, so
    any partial-agg schedule produces the identical frontier and the
    hash cannot drift.  Nodes unreached within 3 hops simply don't
    appear (no sentinel infinities to keep exact)."""
    e = _copart_edges(spark, sf_dir)
    d = (
        e.filter(F.col("src") % 10 == 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .withColumn("d", F.lit(0))
    )
    for _ in range(3):
        relaxed = (
            e.join(d, e.src == d.node)
            .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )
        d = d.unionAll(relaxed).groupBy("node").agg(F.min("d").alias("d"))
    return d.groupBy(bigint(F.col("d")).alias("dist")).agg(
        bigint(F.count(F.lit(1))).alias("n_nodes"),
        bigint(F.sum("node")).alias("node_sum"),
    )


# --------------------------------------------------------------------------
# Max interval concurrency per user — the sweep-line / stabbing query
# --------------------------------------------------------------------------


@op(
    "interval_max_concurrency",
    oracle="""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + (CAST(round(value * 100) AS BIGINT) % 7200) * 1000000 AS e
  FROM events WHERE value IS NOT NULL
),
pts AS (
  SELECT user_id, s AS us, 1 AS delta, event_id FROM iv
  UNION ALL
  SELECT user_id, e AS us, -1 AS delta, event_id FROM iv
),
r AS (
  SELECT user_id, us,
         sum(delta) OVER (PARTITION BY user_id
                          ORDER BY us, delta, event_id) AS conc
  FROM pts
),
m AS (SELECT user_id, max(conc) AS max_conc FROM r GROUP BY user_id)
SELECT m.user_id,
       CAST(m.max_conc AS BIGINT) AS max_conc,
       CAST(min(r.us) AS BIGINT) AS first_peak_us
FROM m JOIN r ON r.user_id = m.user_id AND r.conc = m.max_conc
GROUP BY m.user_id, m.max_conc
""",
    category="lifecycle / sessionless analytics",
)
def interval_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum interval concurrency per user (sweep line): each event
    opens an interval (duration = value-derived, deterministic), the
    +1/-1 deltas are sorted on the exact integer (µs, delta, event_id)
    key — ends close BEFORE starts open at the same instant — and the
    running sum's maximum is the peak concurrency, reported with its
    first occurrence time.  The capacity-planning / overlap-stabbing
    primitive (how many trips in flight at once).

    Scale: everything partitions by user — sweep state never crosses
    keys; the all-users variant would range-partition the timeline and
    prefix-merge the per-range sums (documented, not needed here)."""
    # an event with a NULL value has no defined duration — excluded
    # from the sweep in BOTH engines (round-8 NULL-payload sweep: the
    # NULL end point sorts nulls-first in Spark, nulls-last in DuckDB)
    iv = load(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("s"),
        F.expr(
            "unix_micros(ts) + (CAST(round(value * 100) AS BIGINT) % 7200) * 1000000"
        ).alias("e"),
    )
    pts = iv.select(
        "user_id", F.col("s").alias("us"), F.lit(1).alias("delta"), "event_id"
    ).unionAll(
        iv.select(
            "user_id", F.col("e").alias("us"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "delta", "event_id")
    r = pts.withColumn("conc", F.sum("delta").over(w))
    m = r.groupBy("user_id").agg(F.max("conc").alias("max_conc"))
    return (
        r.join(m, "user_id")
        .filter(F.col("conc") == F.col("max_conc"))
        .groupBy("user_id", bigint(F.col("max_conc")).alias("max_conc"))
        .agg(bigint(F.min("us")).alias("first_peak_us"))
    )


# --------------------------------------------------------------------------
# Quality ensemble gate — integer-vote curation decision
# --------------------------------------------------------------------------


@op(
    "corpus_quality_ensemble_gate",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS w
  FROM documents
),
tf AS (
  SELECT doc_id, count(*) AS maxf FROM (
    SELECT doc_id, unnest(w) AS word FROM d
  ) GROUP BY doc_id, word
),
mf AS (SELECT doc_id, max(maxf) AS max_word_f FROM tf GROUP BY doc_id),
s AS (
  SELECT d.doc_id,
         CASE WHEN d.n_chars BETWEEN 100 AND 500 THEN 1 ELSE 0 END AS len_ok,
         CASE WHEN mf.max_word_f * 8 < len(d.w) THEN 1 ELSE 0 END AS rep_ok,
         CASE WHEN d.lang IN ('en', 'de', 'fr') THEN 1 ELSE 0 END AS lang_ok,
         CASE WHEN len(d.w) >= 20 THEN 1 ELSE 0 END AS tok_ok
  FROM d JOIN mf ON mf.doc_id = d.doc_id
)
SELECT doc_id, CAST(len_ok AS BIGINT) AS len_ok,
       CAST(rep_ok AS BIGINT) AS rep_ok,
       CAST(lang_ok AS BIGINT) AS lang_ok,
       CAST(tok_ok AS BIGINT) AS tok_ok,
       CAST(len_ok + rep_ok + lang_ok + tok_ok AS BIGINT) AS votes,
       CAST(CASE WHEN len_ok + rep_ok + lang_ok + tok_ok >= 3
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s
""",
    category=CAT,
)
def corpus_quality_ensemble_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ensemble curation decision: four independent integer
    quality signals (length band, max-word-frequency repetition gate
    via cross-multiplication, language allowlist, minimum token count)
    vote, and a document survives at >= 3 votes — how a production
    corpus pipeline actually combines its individual filters into one
    keep/drop bit.  Every signal is exact integer arithmetic; the only
    shuffle beyond the doc-keyed word rollup is none (signals join on
    doc_id via the same aggregation)."""
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "n_chars", words_of().alias("w")
    )
    tf = (
        d.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("f"))
        .groupBy("doc_id")
        .agg(F.max("f").alias("max_word_f"))
    )
    s = d.join(tf, "doc_id").select(
        "doc_id",
        F.when(F.col("n_chars").between(100, 500), 1).otherwise(0).alias("len_ok"),
        F.when(F.col("max_word_f") * 8 < F.size("w"), 1).otherwise(0).alias("rep_ok"),
        F.when(F.col("lang").isin("en", "de", "fr"), 1).otherwise(0).alias("lang_ok"),
        F.when(F.size("w") >= 20, 1).otherwise(0).alias("tok_ok"),
    )
    votes = F.col("len_ok") + F.col("rep_ok") + F.col("lang_ok") + F.col("tok_ok")
    return s.select(
        "doc_id",
        bigint(F.col("len_ok")).alias("len_ok"),
        bigint(F.col("rep_ok")).alias("rep_ok"),
        bigint(F.col("lang_ok")).alias("lang_ok"),
        bigint(F.col("tok_ok")).alias("tok_ok"),
        bigint(votes).alias("votes"),
        bigint(F.when(votes >= 3, 1).otherwise(0)).alias("keep"),
    )


# --------------------------------------------------------------------------
# regexp_count / regexp_instr / regexp_substr
# --------------------------------------------------------------------------


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
    category="2.8 scalar functions",
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


# --------------------------------------------------------------------------
# MinHash/LSH recall+precision eval — the dedup-index quality gate
# --------------------------------------------------------------------------


def _minhash_eval_duck() -> str:
    from trip_data_pipeline_spark.operators.dedup import (
        LSH_BANDS,
        MINHASH_MOD,
        MINHASH_PERMS,
        SHINGLE_K,
        _duck_hex28,
        _SHINGLES_DUCK,
    )
    from trip_data_pipeline_spark.operators.text_ops import _duck_words

    return f"""
WITH d AS (SELECT doc_id, {_duck_words()} AS ws FROM documents),
d3 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= {SHINGLE_K}),
sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS s FROM d3
),
sets_ AS (SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS sset FROM d3),
truth AS (
  SELECT doc_id1, doc_id2 FROM (
    SELECT c.doc_id1, c.doc_id2,
           len(list_intersect(s1.sset, s2.sset)) AS i_,
           len(list_distinct(list_concat(s1.sset, s2.sset))) AS u_
    FROM (SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id) c
    JOIN sets_ s1 ON s1.doc_id = c.doc_id1
    JOIN sets_ s2 ON s2.doc_id = c.doc_id2
  ) WHERE 2 * i_ >= u_
),
hx AS (
  SELECT doc_id,
         {_duck_hex28('md5(s)', 1)} AS a,
         {_duck_hex28('md5(s)', 8)} AS b
  FROM sh
),
hj AS (
  SELECT doc_id, j, min((a + (j + 1) * b) % {MINHASH_MOD}) AS mh
  FROM hx CROSS JOIN (SELECT unnest(range(0, {MINHASH_PERMS})) AS j) perms
  GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, j // {MINHASH_PERMS // LSH_BANDS} AS band_idx,
         string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j) AS band_key
  FROM hj GROUP BY doc_id, band_idx
),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id1, b2.doc_id AS doc_id2
  FROM bands b1
  JOIN bands b2 ON b1.band_idx = b2.band_idx
               AND b1.band_key = b2.band_key
               AND b1.doc_id < b2.doc_id
),
hit AS (
  SELECT t.doc_id1 FROM truth t
  JOIN cand c ON c.doc_id1 = t.doc_id1 AND c.doc_id2 = t.doc_id2
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       CAST((1000000 * (SELECT count(*) FROM hit))
              // (SELECT count(*) FROM truth) AS BIGINT) AS recall_ppm,
       CAST((1000000 * (SELECT count(*) FROM hit))
              // (SELECT count(*) FROM cand) AS BIGINT) AS precision_ppm
"""


def _register_minhash_eval():
    @op("dedup_minhash_recall_eval", oracle=_minhash_eval_duck(), category=CAT)
    def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Recall AND precision of the MinHash/LSH candidate generator
        against exhaustive ground truth — the dedup-index quality gate
        (the sibling of sim_ann_recall_eval for the near-dup path).
        Ground truth = every pair with exact Jaccard >= 0.5, found
        completely via the shingle inverted index (a positive-Jaccard
        pair must share a shingle, and the corpus' max shingle df is
        small, so the index join is bounded); the threshold test is the
        cross-multiplied integer 2*|A∩B| >= |A∪B| — no float anywhere.
        LSH candidates come from the SAME banded pipeline
        dedup_near_minhash ships.  One summary row: truth/candidate/hit
        counts + integer-ppm recall and precision.

        Scale: truth-by-inverted-index is the eval harness (bounded by
        shingle df); the LSH arm is the production path.  Round-7
        note: the prefix-filtering rework that cut
        dedup_shingle_containment 1.8x does NOT transfer here and was
        measured then reverted — at Jaccard t=0.5 the safe prefix is
        floor(n/2)+1 (~55% of index entries vs ~11% at containment
        t=0.9), and the candidate-distinct + per-pair verify that
        prefix filtering requires costs more than the ~3x join-row cut
        saves (measured 38.9 s -> 145 s at 10x).  The
        count-aggregation form below keeps partial aggregation
        pipelined inside the join stage with no candidate
        materialization at all.

        At-scale parity (round 9): the registry oracle's truth arm
        (candidate-DISTINCT + per-pair list_intersect) is the 1,517 s
        cost that capped value verification at 3x — the 10x record in
        docs/PARITY_10x.json uses the scale-tractable oracle in
        tools/parity_sweep.py SCALED_ORACLES (shared-shingle-count
        identity, stepwise temp tables), locked value-identical to
        this oracle at sf0.01 by tests/test_scaled_oracles.py."""
        from trip_data_pipeline_spark.operators.dedup import (
            SHINGLE_K,
            minhash_candidate_pairs,
            shingle_col,
        )
        from trip_data_pipeline_spark.operators.text_ops import _words

        docs = spread(load(spark, sf_dir, "documents"))
        d3 = (
            docs.select("doc_id", _words().alias("ws"))
            .filter(F.size("ws") >= SHINGLE_K)
        )
        # Exhaustive truth WITHOUT per-pair set algebra (round-4: the
        # original pair->re-join-arrays->array_intersect form cost most
        # of this op's 412 s at 10x).  Shared-shingle count per pair IS
        # the intersection size (both sides are per-doc-distinct), so
        # one count aggregation over the index join replaces distinct +
        # two array joins + per-pair intersect/union; union follows as
        # |A| + |B| - i.  Identical truth set by construction.
        #
        # Round-8 LOSSLESS size filter at the join (the length filter of
        # Arasu/Ganti/Kaushik VLDB'06 exact set-similarity joins): at
        # Jaccard t=0.5, 2i >= n1+n2-i and i <= min(n1,n2) force
        # max <= 2*min, so index rows carry nsh and size-incompatible
        # pairs drop BEFORE the pair-count aggregation — on this corpus
        # (nsh spans 8..98) that cuts ~40% of the sum(df^2) join rows,
        # and carrying (n1, n2) through the aggregation keys also
        # deletes the two post-aggregation size joins.  Unlike prefix
        # filtering (measured counterproductive at t=0.5, see above),
        # this adds no second pass and no extra shuffle.  Measured
        # wall-clock at 10x: NEUTRAL (truth arm old 30.2s vs new 29.7s
        # warm, same 250,600-pair truth set) — the stage is bound by
        # the pair-count partial aggregation, not join-row production,
        # so the cut pays in shuffle bytes and agg input, not time, at
        # this scale; kept for the deleted joins and because the row
        # cut grows with duplicate density (the 100 TB regime).
        # Round-12 (guide §1.4/§4.4): the index is built by exploding the
        # RAW shingle array and row-distincting, NOT by exploding
        # array_distinct(shingles).  The array_distinct-under-explode
        # form made Catalyst infer `isnotnull(size(array_distinct(..)))`
        # filters from the Generate/join and push them below the `ws`
        # projection to the scan, where the substituted lambda body
        # re-evaluates split(translate(lower(text))) PER ELEMENT_AT CALL
        # — interpreted, per shingle, per doc, on BOTH join legs
        # (measured: 20.5 s for the index alone, 23.9 s for the truth
        # arm at sf0.1).  Exploding the raw attribute keeps the Generate
        # input a plain column; `n1` is wrapped in coalesce so it is
        # non-nullable and no isnotnull constraint can be inferred and
        # inlined (sh is never null here — d3 filters size(ws)>=3 —
        # so coalesce changes no value).  Same (doc, shingle, n1) rows
        # by construction; truth arm after: 2.2 s.
        sh = shingle_col(F.col("ws"))
        # Round-13 (guide §2.2/§3.2 — VERDICT r12 item 3): EXACT-DUPLICATE
        # COLLAPSE before the inverted-index join.  The truth predicate
        # 2|A∩B| >= |A∪B| depends only on the two shingle SETS, and a
        # shingle set is a function of the document TEXT — so docs are
        # first grouped by text (exact string equality, no hashing, no
        # collision risk), the index join runs over one representative
        # per text class, and the class-level truth pairs expand back to
        # doc pairs afterwards: cross-class pairs as members(c1) x
        # members(c2), intra-class pairs as all C(m,2) member pairs
        # (identical sets have Jaccard 1 >= t, always truth).  This is
        # the standard production shape — exact dedup before near-dedup
        # — and it attacks the truth arm's real cost law: the index join
        # is sum over shingles of df^2, and df scales with DUPLICATE
        # DENSITY, so at 10x (text payloads repeat per copy) class-level
        # df is 10x smaller and join rows drop ~100x (sum df^2 279.2M
        # over 50,000 docs -> 2.8M over 4,992 text classes on the
        # tools/scale_probe.py 10x layout; the measurement is recorded
        # in CHANGES.md under mh_probe_r13), while at sf0.1 (classes
        # ~singleton) the added cost is the text-keyed aggregation
        # below.  Exact by construction at every duplicate density; the
        # expansion is output-sized (|truth| rows, 250,600 at 10x).
        # `cls` is not materialized, and it runs THREE times: column
        # pruning gives each consumer a different aggregate (base: min;
        # mem: min + collect_list; intra: collect_list), so no exchange
        # is shared.  The AQE-final plan at sf0.01 has three
        # `Exchange hashpartitioning(text)` shuffles and zero
        # ReusedExchange over them; its six ReusedExchange nodes are
        # `spread`'s round-robin exchange of docs (4), the cj side of
        # the ci self-join (1) and the mem broadcast for the m2 join (1).
        cls = (
            docs.groupBy("text")
            .agg(
                F.min("doc_id").alias("cid"),
                F.collect_list("doc_id").alias("members"),
            )
            .select("cid", "members", _words().alias("ws"))
            .filter(F.size("ws") >= SHINGLE_K)
        )
        # Plan-shape discipline for the class index (two traps, both
        # measured at sf0.1):
        # (a) n1 is materialized as an ATTRIBUTE in a projection BELOW
        #     the explode.  Projecting size(array_distinct(transform(..)))
        #     in the SAME select as the explode lands it in the Project
        #     ABOVE the Generate, re-evaluated per exploded shingle row —
        #     the interpreted-HOF-per-row family of the round-12 note
        #     (measured 22.6 s for this index alone).
        # (b) the explode input stays the inline shingle EXPRESSION, not
        #     an attribute: InferFiltersFromGenerate skips inference for
        #     non-cheap generator inputs, but given a bare attribute it
        #     infers size(..)>0 AND isnotnull(..), and predicate pushdown
        #     substitutes that through ws down to the parquet scan where
        #     the lambda re-splits the text per element (measured: the
        #     whole op 35 s with the attribute form vs 6.5 s with this
        #     shape).
        base = cls.select(
            "cid",
            F.coalesce(F.size(F.array_distinct(sh)), F.lit(0)).alias("n1"),
            "ws",
        )
        ci = (
            base.select(
                F.col("cid").alias("cid1"), "n1", F.explode(sh).alias("s")
            )
            .distinct()
        )
        cj = ci.select(
            F.col("cid1").alias("cid2"), F.col("n1").alias("n2"), "s"
        )
        tcls = (
            ci.join(cj, "s")
            .filter(
                (F.col("cid1") < F.col("cid2"))
                & (F.col("n2") <= 2 * F.col("n1"))
                & (F.col("n1") <= 2 * F.col("n2"))
            )
            .groupBy("cid1", "cid2", "n1", "n2")
            .agg(F.count(F.lit(1)).alias("i_"))
            .filter(2 * F.col("i_") >= F.col("n1") + F.col("n2") - F.col("i_"))
            .select("cid1", "cid2")
        )
        mem = cls.select("cid", "members")
        cross = (
            tcls.join(
                mem.select(F.col("cid").alias("cid1"), F.col("members").alias("m1")),
                "cid1",
            )
            .join(
                mem.select(F.col("cid").alias("cid2"), F.col("members").alias("m2")),
                "cid2",
            )
            .select(F.explode("m1").alias("da"), "m2")
            .select("da", F.explode("m2").alias("db"))
            .select(
                F.least("da", "db").alias("doc_id1"),
                F.greatest("da", "db").alias("doc_id2"),
            )
        )
        intra = (
            cls.filter(F.size("members") >= 2)
            .select(F.explode("members").alias("da"), "members")
            .select("da", F.explode("members").alias("db"))
            .filter(F.col("da") < F.col("db"))
            .select(
                F.col("da").alias("doc_id1"), F.col("db").alias("doc_id2")
            )
        )
        truth = cross.unionByName(intra)
        cand = minhash_candidate_pairs(d3)
        # Round-12 (guide §2.2/§5): ONE pass over each arm.  The old
        # shape consumed the truth lineage twice (n_truth agg + hit
        # join) and the cand lineage twice (n_cand agg + hit join) with
        # no exchange reuse across the four consumers — measured 13.2 s
        # vs 3.4 s for the two arms run once each.  A full-outer join on
        # the pair key with presence markers computes truth once, cand
        # once, and all three counts in a single aggregation:
        # count(t_) = |truth|, count(c_) = |cand|, and rows where both
        # markers survive the join are exactly the hits.
        j = truth.withColumn("t_", F.lit(1)).join(
            cand.withColumn("c_", F.lit(1)),
            ["doc_id1", "doc_id2"],
            "full_outer",
        )
        counts = j.agg(
            F.count("t_").alias("n_truth"),
            F.count("c_").alias("n_cand"),
            F.count(
                F.when(F.col("t_").isNotNull() & F.col("c_").isNotNull(), 1)
            ).alias("n_hit"),
        )
        return counts.select(
            bigint(F.col("n_truth")).alias("n_truth"),
            bigint(F.col("n_cand")).alias("n_cand"),
            bigint(F.col("n_hit")).alias("n_hit"),
            bigint(F.expr("(1000000 * n_hit) div n_truth")).alias("recall_ppm"),
            bigint(F.expr("(1000000 * n_hit) div n_cand")).alias("precision_ppm"),
        )


_register_minhash_eval()


# --------------------------------------------------------------------------
# CUSUM drift detection — sequential state via applyInPandas
# --------------------------------------------------------------------------


@op(
    "timeseries_cusum_drift",
    oracle="""
WITH RECURSIVE ev AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS x,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT user_id, rn,
         greatest(CAST(0 AS BIGINT), x - 15000) AS s,
         CASE WHEN greatest(CAST(0 AS BIGINT), x - 15000) > 200000
              THEN 1 ELSE 0 END AS alarms
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn,
         greatest(CAST(0 AS BIGINT), r.s + e.x - 15000),
         r.alarms + CASE WHEN greatest(CAST(0 AS BIGINT), r.s + e.x - 15000)
                              > 200000
                          AND r.s <= 200000
                         THEN 1 ELSE 0 END
  FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
),
fin AS (
  SELECT user_id, max(rn) AS last_rn, max(s) AS max_s
  FROM r GROUP BY user_id
)
SELECT f.user_id,
       CAST(f.max_s AS BIGINT) AS max_s,
       CAST(r.s AS BIGINT) AS final_s,
       CAST(r.alarms AS BIGINT) AS n_alarms
FROM fin f JOIN r ON r.user_id = f.user_id AND r.rn = f.last_rn
""",
    category="2.14 time-series rollups",
)
def timeseries_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per user: s_t = max(0,
    s_{t-1} + (x_t - k)) with allowance k=150.00 and alarm threshold
    h=2000.00 (integer cents) — the change-point monitor a metrics
    pipeline runs per entity.  Like the gap+cap sessionizer, the
    recurrence is genuinely sequential (each state folds the previous
    max), so Spark runs it as ONE Arrow grouped-map pass per user and
    the oracle replays the identical recurrence as a recursive CTE
    over per-user event ranks.  Alarms count upward crossings only
    (s <= h before, s > h after) — re-alarms require a reset first."""
    import pandas as pd

    K, H = 15000, 200000

    # NULL measurements carry no signal: excluded from the CUSUM
    # sequence in BOTH engines (round-8 NULL-payload sweep — the
    # kernel's int(x) raised on NaN; the sf fixtures have no NULL
    # values, so defined-case output is unchanged)
    # Round-12 (guide §4.2/§4.5): groupBy(user).applyInPandas paid one
    # Python call + pandas DataFrame per user; now a partition-scan
    # mapInPandas over repartition(user)+sortWithinPartitions walks
    # column lists with carry-over state across Arrow batches — same
    # recurrence, same single shuffle, no per-group overhead.  The
    # partition count is pinned because AQE would coalesce the small
    # shuffle to 1 task and serialize the scan; it is one task wave, as
    # AQE cannot coalesce an explicit count either.
    n_parts = one_wave_partitions(spark)
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
        .repartition(n_parts, "user_id")
        .sortWithinPartitions("user_id", "us", "event_id")
    )

    def cusum_scan(batches):
        uid = None
        s = mx = alarms = 0
        out_u, out_mx, out_s, out_a = [], [], [], []
        for pdf in batches:
            for u, x in zip(pdf["user_id"].tolist(), pdf["x"].tolist()):
                if u != uid:
                    if uid is not None:
                        out_u.append(uid)
                        out_mx.append(mx)
                        out_s.append(s)
                        out_a.append(alarms)
                    uid = u
                    s = mx = alarms = 0
                prev = s
                s = max(0, s + x - K)
                mx = max(mx, s)
                if s > H and prev <= H:
                    alarms += 1
        if uid is not None:
            out_u.append(uid)
            out_mx.append(mx)
            out_s.append(s)
            out_a.append(alarms)
        yield pd.DataFrame(
            {
                "user_id": out_u,
                "max_s": out_mx,
                "final_s": out_s,
                "n_alarms": out_a,
            }
        )

    return ev.mapInPandas(
        cusum_scan,
        schema="user_id bigint, max_s bigint, final_s bigint, n_alarms bigint",
    )


# --------------------------------------------------------------------------
# BPE: apply the winning merge and recount — the training loop's step 2
# --------------------------------------------------------------------------


@op(
    "bpe_apply_merge_recount",
    oracle="""
WITH wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
  WHERE len(word) >= 2
  GROUP BY word
),
p1 AS (
  SELECT unnest(list_transform(range(1, len(word)), i -> word[i:i+1])) AS pair, n
  FROM wf
),
pc1 AS (SELECT pair, sum(n) AS cnt FROM p1 GROUP BY pair),
top AS (SELECT pair FROM pc1 ORDER BY cnt DESC, pair ASC LIMIT 1),
merged AS (
  SELECT replace(word, (SELECT pair FROM top), chr(164)) AS word, n FROM wf
),
p2 AS (
  SELECT unnest(list_transform(range(1, len(word)), i -> word[i:i+1])) AS pair, n
  FROM merged WHERE len(word) >= 2
),
pc2 AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM p2 GROUP BY pair)
SELECT (SELECT pair FROM top) AS applied_pair, pair, cnt
FROM pc2 ORDER BY cnt DESC, pair ASC LIMIT 10
""",
    category=CAT,
)
def bpe_apply_merge_recount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of a BPE training step: take the winning pair
    from the pair-count pass (bpe_pair_counts), APPLY the merge to the
    vocabulary (the merged pair becomes one symbol — chr(164), absent
    from the corpus), and recount adjacent pairs — yielding the
    next-iteration statistics.  Left-to-right non-overlapping
    replacement is identical in both engines, so the post-merge pair
    table is exact.

    Scale: the merge applies to the DISTINCT-word vocabulary (bounded),
    never the token stream; the winner is a 1-row broadcast.  This is
    the loop body a distributed BPE trainer iterates."""
    d = spread(load(spark, sf_dir, "documents"))
    wf = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("word") - 1),
        lambda i: F.col("word").substr(i, F.lit(2)),
    )
    pc1 = (
        wf.select(F.explode(pairs).alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
    )
    top = pc1.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(1).select(
        F.col("pair").alias("applied_pair")
    )
    merged = wf.crossJoin(F.broadcast(top)).select(
        F.replace(F.col("word"), F.col("applied_pair"), F.lit("¤")).alias("word"),
        "n",
        "applied_pair",
    )
    pc2 = (
        merged.filter(F.length("word") >= 2)
        .select("applied_pair", F.explode(pairs).alias("pair"), "n")
        .groupBy("applied_pair", "pair")
        .agg(bigint(F.sum("n")).alias("cnt"))
    )
    return pc2.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(10).select(
        "applied_pair", "pair", "cnt"
    )


# --------------------------------------------------------------------------
# Month-over-month rollup — the BI delta report
# --------------------------------------------------------------------------


@op(
    "rollup_month_over_month",
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
)
SELECT month, cents, n,
       CAST(cents - lag(cents) OVER (ORDER BY month) AS BIGINT) AS delta_cents,
       CAST(CASE WHEN lag(cents) OVER (ORDER BY month) IS NOT NULL
                 THEN (1000000 * (cents - lag(cents) OVER (ORDER BY month)))
                        // lag(cents) OVER (ORDER BY month) END AS BIGINT)
         AS mom_ppm
FROM m
""",
    category="2.14 time-series rollups",
)
def rollup_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas — the BI staple: monthly
    integer-cents totals, absolute delta, and the MoM growth rate in
    integer ppm (floor-div on positive cents, exact in both engines).
    The lag window runs over the AGGREGATED months (at most a few
    hundred rows regardless of fact size), so the single-partition
    month ordering is a non-issue at any scale — the heavy lifting is
    the partial/final monthly aggregate."""
    o = load(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    m = o.groupBy("month").agg(
        bigint(F.sum("c")).alias("cents"), bigint(F.count(F.lit(1))).alias("n")
    )
    w = Window.orderBy("month")
    prev = F.lag("cents").over(w)
    return m.select(
        "month",
        "cents",
        "n",
        bigint(F.col("cents") - prev).alias("delta_cents"),
        bigint(
            F.when(
                prev.isNotNull(),
                F.expr(
                    "(1000000 * (cents - lag(cents) OVER (ORDER BY month))) "
                    "div lag(cents) OVER (ORDER BY month)"
                ),
            )
        ).alias("mom_ppm"),
    )


# --------------------------------------------------------------------------
# Top-k WITH TIES — rank()-based limit
# --------------------------------------------------------------------------


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
    category="2.6 sort/limit/distinct",
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


# --------------------------------------------------------------------------
# Text-lines source + compressed parquet sink (lossless-cycle class)
# --------------------------------------------------------------------------


@op(
    "scan_text_lines",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(text)) AS BIGINT) AS chars,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents GROUP BY lang
""",
    category="2.1 scans/sources/sinks",
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
    category="2.1 scans/sources/sinks",
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


# --------------------------------------------------------------------------
# Parameterized SQL — named parameter markers
# --------------------------------------------------------------------------


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
    category="2.8 scalar functions",
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
    category="2.8 scalar functions",
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


# --------------------------------------------------------------------------
# Bitext mining candidates — cross-lingual pairing via rare shared n-grams
# --------------------------------------------------------------------------


@op(
    "corpus_bitext_candidates",
    oracle="""
WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
g AS (SELECT DISTINCT doc_id, lang,
             unnest(list_transform(range(1, len(w) - 3),
                                   i -> array_to_string(w[i:i+4], ' '))) AS gram
      FROM d),
df AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
rare AS (SELECT gram FROM df WHERE c BETWEEN 2 AND 4),
pairs AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
         a.lang AS lang1, b.lang AS lang2,
         count(DISTINCT a.gram) AS n_shared
  FROM g a JOIN rare r ON a.gram = r.gram
  JOIN g b ON b.gram = a.gram AND a.doc_id < b.doc_id AND a.lang <> b.lang
  GROUP BY 1, 2, 3, 4
)
SELECT doc_id1, doc_id2, lang1, lang2, CAST(n_shared AS BIGINT) AS n_shared
FROM pairs WHERE n_shared >= 2
""",
    category=CAT,
)
def corpus_bitext_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext-mining candidate pairs: documents in DIFFERENT languages
    sharing >= 2 RARE 5-grams (corpus df 2-4) — the cheap surface-
    signal prefilter a translation-pair miner runs before expensive
    embedding alignment (rare shared content is evidence of parallel
    or mirrored text; common grams carry no signal and are excluded,
    which also bounds the join).

    Scale: rare-gram df is computed as a count() window over the gram
    partition (join-free model pass), and the pair join touches only
    grams with df <= 4, so each gram yields at most 6 pairs — the
    inverted-index join is df-bounded exactly like the MinHash truth
    arm."""
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", word_ngrams(words_of(), 5).alias("grams")
    )
    g = d.select(
        "doc_id", "lang", F.explode(F.array_distinct("grams")).alias("gram")
    )
    dfw = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    rare = g.withColumn("c", dfw).filter(F.col("c").between(2, 4))
    a = rare.select(
        F.col("doc_id").alias("doc_id1"), F.col("lang").alias("lang1"), "gram"
    )
    b = rare.select(
        F.col("doc_id").alias("doc_id2"), F.col("lang").alias("lang2"), "gram"
    )
    return (
        a.join(b, "gram")
        .filter(
            (F.col("doc_id1") < F.col("doc_id2"))
            & (F.col("lang1") != F.col("lang2"))
        )
        .groupBy("doc_id1", "doc_id2", "lang1", "lang2")
        .agg(bigint(F.countDistinct("gram")).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


# --------------------------------------------------------------------------
# Cross-snapshot dedup — incremental-crawl "already seen" accounting
# --------------------------------------------------------------------------


@op(
    "dedup_cross_snapshot",
    oracle="""
WITH d AS (SELECT doc_id, lang, text, md5(text) AS h FROM documents),
a AS (SELECT DISTINCT h FROM d WHERE substr(h, 1, 1) IN
        ('0','1','2','3','4','5','6','7')),
b AS (SELECT lang, h FROM d WHERE substr(h, 1, 1) NOT IN
        ('0','1','2','3','4','5','6','7'))
SELECT b.lang,
       CAST(count(*) AS BIGINT) AS n_new_docs,
       CAST(count(a.h) AS BIGINT) AS n_already_seen,
       CAST((1000000 * count(a.h)) // count(*) AS BIGINT) AS dup_ppm
FROM b LEFT JOIN a ON a.h = b.h
GROUP BY b.lang
""",
    category=CAT,
)
def dedup_cross_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot exact dedup: the incremental-crawl question "how
    much of the NEW snapshot did we already have?" — snapshot A is the
    content-addressed first half (md5 leading hex 0-7), snapshot B the
    second, and every B document checks its exact content hash against
    A's distinct hash set via a left join (at scale: a hash-keyed
    shuffle join — content hashes, never raw text, cross the wire).
    Per-language new/seen counts + integer-ppm dup rate drive the
    recrawl budget."""
    d = spread(load(spark, sf_dir, "documents")).select(
        "lang", F.md5("text").alias("h")
    )
    first = F.substring("h", 1, 1)
    a_half = (
        d.filter(first.isin(*"01234567"))
        .select(F.col("h").alias("ah"))
        .distinct()
    )
    b_half = d.filter(~first.isin(*"01234567"))
    j = b_half.join(a_half, b_half.h == a_half.ah, "left")
    return j.groupBy("lang").agg(
        bigint(F.count(F.lit(1))).alias("n_new_docs"),
        bigint(F.count("ah")).alias("n_already_seen"),
        bigint(F.expr("(1000000 * count(ah)) div count(1)")).alias("dup_ppm"),
    )


# --------------------------------------------------------------------------
# Blocklist gate — term-density safety filter
# --------------------------------------------------------------------------


@op(
    "corpus_blocklist_filter",
    oracle="""
WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT doc_id, lang, len(w) AS n_words,
         len(list_filter(w, x -> x IN ('slow', 'error', 'drop'))) AS n_hits
  FROM d
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_hits) AS BIGINT) AS total_hits,
       CAST(sum(CASE WHEN n_hits * 20 > n_words THEN 1 ELSE 0 END) AS BIGINT)
         AS n_blocked
FROM s GROUP BY lang
""",
    category=CAT,
)
def corpus_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist term-DENSITY gate: a document is blocked when more
    than 5% of its tokens hit the blocklist (cross-multiplied integer
    predicate n_hits*20 > n_words — never a float ratio), not on any
    single occurrence — the density form keeps false positives down on
    long documents, the standard shape of a keyword safety filter.
    The per-doc hit count is a map-side array filter (no explode, no
    shuffle of tokens); only (lang, counts) aggregate."""
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", words_of().alias("w")
    )
    hits = F.size(F.filter(F.col("w"), lambda x: x.isin("slow", "error", "drop")))
    s = d.select(
        "lang", F.size("w").alias("n_words"), hits.alias("n_hits")
    )
    return s.groupBy("lang").agg(
        bigint(F.count(F.lit(1))).alias("n_docs"),
        bigint(F.sum("n_hits")).alias("total_hits"),
        bigint(
            F.sum(F.when(F.col("n_hits") * 20 > F.col("n_words"), 1).otherwise(0))
        ).alias("n_blocked"),
    )


# --------------------------------------------------------------------------
# k-core peeling — iterative degree-threshold pruning
# --------------------------------------------------------------------------

_KCORE_EDGES_DUCK = """
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e0 AS (SELECT DISTINCT a.p AS src, b.p AS dst
       FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p)
"""


def _kcore_peel_duck(prev: str, out: str, k: int) -> str:
    """One peel: keep nodes with degree >= k in the surviving
    subgraph, then restrict the edge set to kept endpoints."""
    return f"""
d_{out} AS (SELECT src AS node, count(*) AS d FROM {prev} GROUP BY src),
keep_{out} AS (SELECT node FROM d_{out} WHERE d >= {k}),
{out} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN keep_{out} s ON s.node = e.src
  JOIN keep_{out} t ON t.node = e.dst
)"""


@op(
    "graph_kcore_peel",
    oracle=f"""
WITH {_KCORE_EDGES_DUCK},
{_kcore_peel_duck('e0', 'e1', 3)},
{_kcore_peel_duck('e1', 'e2', 3)},
{_kcore_peel_duck('e2', 'e3', 3)},
fin AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM e3 GROUP BY src)
SELECT CAST(count(*) AS BIGINT) AS n_core_nodes,
       CAST(coalesce(sum(deg), 0) AS BIGINT) AS deg_sum,
       CAST(coalesce(min(node), -1) AS BIGINT) AS min_node,
       CAST(coalesce(sum(node), 0) AS BIGINT) AS node_sum
FROM fin
""",
    category="graph / iterative",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core peeling, 3 unrolled rounds: repeatedly drop nodes whose
    degree in the SURVIVING subgraph is < 3 and restrict the edge set
    to kept endpoints — the dense-subgraph extraction primitive
    (community cores, spam-farm detection; full k-core runs peels to a
    fixed point, this pins the fixed-round prefix).  Each peel is one
    degree aggregation + two semi-join-shaped edge restrictions — all
    keyed, and the edge set only ever SHRINKS, so cost is bounded by
    round 1.  Summary row: surviving node count, degree mass (2x the
    surviving edge count), min node and node checksum."""
    e = _copart_edges(spark, sf_dir)  # both directions
    for _ in range(3):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= 3).select("src")
        e = (
            e.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )
    fin = e.groupBy("src").agg(bigint(F.count(F.lit(1))).alias("deg"))
    return fin.agg(
        bigint(F.count(F.lit(1))).alias("n_core_nodes"),
        bigint(F.coalesce(F.sum("deg"), F.lit(0))).alias("deg_sum"),
        bigint(F.coalesce(F.min("src"), F.lit(-1))).alias("min_node"),
        bigint(F.coalesce(F.sum("src"), F.lit(0))).alias("node_sum"),
    )


# --------------------------------------------------------------------------
# Luhn checksum + printf formatting — last scalar-surface gaps
# --------------------------------------------------------------------------


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
    category="2.8 scalar functions",
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
    category="2.8 scalar functions",
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


# --------------------------------------------------------------------------
# Shingle containment — the ASYMMETRIC near-dup relation
# --------------------------------------------------------------------------


@op(
    "dedup_shingle_containment",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
d3 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= 3),
sets_ AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, len(ws) - 1)]) AS sset
  FROM d3
),
sh AS (SELECT doc_id, unnest(sset) AS s FROM sets_),
cand AS (
  SELECT DISTINCT a.doc_id AS small_id, b.doc_id AS big_id
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
),
v AS (
  SELECT c.small_id, c.big_id,
         len(list_intersect(s1.sset, s2.sset)) AS i_,
         len(s1.sset) AS na
  FROM cand c
  JOIN sets_ s1 ON s1.doc_id = c.small_id
  JOIN sets_ s2 ON s2.doc_id = c.big_id
)
SELECT small_id, big_id,
       CAST(i_ AS BIGINT) AS n_shared,
       CAST(na AS BIGINT) AS n_small
FROM v WHERE 10 * i_ >= 9 * na
""",
    category="2.11 deduplication",
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup detection — the asymmetric relation
    Jaccard misses: |A∩B| / |A| >= 0.9 flags "B contains (almost all
    of) A" even when B is much larger, catching quote inclusion,
    boilerplate-wrapped reposts and page-chrome expansions that dilute
    symmetric Jaccard below any threshold.  Direction matters, so
    pairs are ordered (small_id = the contained side) and both
    directions are tested.  Threshold is the cross-multiplied integer
    10*i >= 9*|A| — no float ratio.

    Scale (round-7 rework — PREFIX FILTERING, Chaudhuri/Ganti/Kaushik
    ICDE'06; Xiao et al. ppjoin, WWW'08): the full inverted-index
    self-join costs sum(df^2) over shingles — measured 279M join rows
    on the 10x corpus (50k docs, 2.6M index entries, max df 250; the
    probe output is recorded in CHANGES.md under mh_probe_r13) and
    growing ~quadratically with duplicate density.  A qualifying pair
    shares >= ceil(0.9*na) of A's na shingles, so at most
    na - ceil(0.9*na) of A's shingles are NOT shared — by pigeonhole,
    under ANY global total order, at least one of A's first
    na - ceil(0.9*na) + 1 (~10%) shingles is shared with B.  So only
    that prefix probes the index (B, the containing side, indexes all
    its shingles — the 0.9 bound is on A alone), and ordering the
    prefix by ascending document frequency keeps stopword shingles
    (the df^2 hot keys) out of every probe.  Candidates then verify
    EXACTLY against the two shingle arrays, so two further lossless
    cuts apply: the index joins on xxhash64(shingle) (8-byte key vs
    ~20-byte string; a collision can only ADD a false candidate,
    which verify removes — it cannot lose a true pair, whose shared
    shingle always shares a hash), and duplicate candidates collapse
    with one distinct.  Measured at 10x, identical 500,500-row
    output: 279M -> 16M pair-generation rows; 52.8 s -> 29.8 s under
    the PROFILE_10x cold-session protocol, 48.6 s -> 18.5 s warm.
    The ppjoin size filter (10*nb >= 9*na at generation) measured
    SLOWER here (wider shuffle rows than the 40% candidate cut
    repaid) and is left out.

    At-scale parity (round 9): the registry oracle's own
    candidate-DISTINCT + per-pair list_intersect is what blew the
    per-op DuckDB budget at 10x — the full 500,500-row value bag is
    FP-OK in docs/PARITY_10x.json via the scaled oracle in
    tools/parity_sweep.py SCALED_ORACLES (shared-shingle-count
    identity; 10*nb >= 9*na is lossless there because it prunes the
    ORACLE's join only), locked value-identical to this oracle at
    sf0.01 by tests/test_scaled_oracles.py."""
    from trip_data_pipeline_spark.operators.dedup import SHINGLE_K, shingle_col
    from trip_data_pipeline_spark.operators.text_ops import _words

    d3 = (
        spread(load(spark, sf_dir, "documents"))
        .select("doc_id", _words().alias("ws"))
        .filter(F.size("ws") >= SHINGLE_K)
    )
    sets_ = d3.select(
        "doc_id", F.array_distinct(shingle_col(F.col("ws"))).alias("sset")
    )
    sh = sets_.select(
        "doc_id",
        F.size("sset").alias("na"),
        F.explode(F.transform("sset", lambda s: F.xxhash64(s))).alias("h"),
    )
    # Global df-ascending shingle order (rarest first).  Ties on
    # (df, h) can only be same-hash rows, so row_number's tie order
    # cannot change which hashes the prefix contains.
    df_ = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_, "h").withColumn(
        "rk", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "h"))
    )
    # prefix length = na - ceil(0.9*na) + 1; ceil(9*na/10) as integers
    probe = ranked.filter(
        F.col("rk") <= F.col("na") - F.expr("(9*na + 9) div 10") + 1
    ).select(F.col("doc_id").alias("small_id"), "h")
    full = sh.select(F.col("doc_id").alias("big_id"), "h")
    cand = (
        probe.join(full, "h")
        .filter(F.col("small_id") != F.col("big_id"))
        .select("small_id", "big_id")
        .distinct()
    )
    sa = sets_.select(F.col("doc_id").alias("small_id"), F.col("sset").alias("sa"))
    sb = sets_.select(F.col("doc_id").alias("big_id"), F.col("sset").alias("sb"))
    return (
        cand.join(sa, "small_id")
        .join(sb, "big_id")
        .select(
            "small_id",
            "big_id",
            F.size(F.array_intersect("sa", "sb")).alias("i_"),
            F.size("sa").alias("na"),
        )
        .filter(10 * F.col("i_") >= 9 * F.col("na"))
        .select(
            "small_id",
            "big_id",
            bigint(F.col("i_")).alias("n_shared"),
            bigint(F.col("na")).alias("n_small"),
        )
    )


# --------------------------------------------------------------------------
# Embedding-norm quality gate
# --------------------------------------------------------------------------


@op(
    "embed_quality_gate",
    oracle="""
WITH q AS (
  SELECT vec_id, label,
         CAST(list_inner_product(
           list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)),
           list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)))
           AS BIGINT) AS sq,
         CAST(len(list_filter(embedding, x -> x = 0)) AS BIGINT) AS n_zero,
         CAST(len(embedding) AS BIGINT) AS dim
  FROM embeddings
),
g AS (
  SELECT vec_id, label, sq, n_zero, dim,
         CASE WHEN sq BETWEEN 1000000 AND 64000000
               AND 10 * n_zero <= dim THEN 1 ELSE 0 END AS ok
  FROM q
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(ok) AS BIGINT) AS n_ok,
       CAST(sum(sq) AS BIGINT) AS sq_sum,
       CAST(sum(n_zero) AS BIGINT) AS zeros
FROM g GROUP BY label
""",
    category="2.11 similarity search",
)
def embed_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene gate: reject vectors whose quantized squared
    norm falls outside [1e6, 6.4e7] (collapsed or exploded vectors —
    both symptoms of upstream encoder failures) or with > 10%
    exactly-zero components (dead dimensions / truncated writes).
    Both tests are exact integers (quantized-milli dot product,
    cross-multiplied zero-share), per-label pass rates feed the
    ingestion dashboard.  Map-only + one small aggregate — the
    embedding sibling of corpus_quality_ensemble_gate."""
    from trip_data_pipeline_spark.operators.similarity import qvec

    e = spread(load(spark, sf_dir, "embeddings"))
    sq = F.aggregate(
        F.zip_with(qvec(), qvec(), lambda a, b: a * b),
        F.lit(0.0),
        lambda s, x: s + x,
    ).cast("bigint")
    n_zero = F.size(F.filter(F.col("embedding"), lambda x: x == 0)).cast("bigint")
    g = e.select(
        "label",
        sq.alias("sq"),
        n_zero.alias("n_zero"),
        F.size("embedding").cast("bigint").alias("dim"),
    ).withColumn(
        "ok",
        F.when(
            F.col("sq").between(1000000, 64000000)
            & (10 * F.col("n_zero") <= F.col("dim")),
            1,
        ).otherwise(0),
    )
    return g.groupBy("label").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("ok")).alias("n_ok"),
        bigint(F.sum("sq")).alias("sq_sum"),
        bigint(F.sum("n_zero")).alias("zeros"),
    )


# --------------------------------------------------------------------------
# EXECUTE IMMEDIATE + to_json — closing the dynamic-SQL / serde surface
# --------------------------------------------------------------------------


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
    category="2.8 scalar functions",
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
    category="2.8 scalar functions",
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
