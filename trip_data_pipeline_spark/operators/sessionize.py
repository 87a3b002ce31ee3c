"""Batch sessionization (gaps-and-islands) — the batch form of
SURVEY.md §2.9's session windows, benched in BASELINE.md.

Same semantics as stream_session_window (30-min inactivity gap,
session = [first, last+gap)).  ``sessionize_batch`` is one JVM double
window (lag flag -> running sum -> hash agg) at every size; at 100 TB
it shuffles each user's events once and keeps per-user state linear.

``sessionize_gap_and_cap`` adds a maximum session span on top of the
inactivity gap, which needs ordered per-user state (an Arrow
grouped-map pass) rather than a pure window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import bigint
from trip_data_pipeline_spark.registry import op
from trip_data_pipeline_spark.session import one_wave_partitions

CAT = "2.9 streaming (batch form)"

GAP_US = 1800 * 1_000_000


@op(
    "sessionize_batch",
    oracle="""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
           WHERE ts IS NOT NULL),
     g AS (SELECT user_id, us, event_id,
                  CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
     s AS (SELECT user_id, us,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM g)
SELECT user_id,
       CAST(min(us) AS BIGINT)                        AS sess_start_us,
       CAST(max(us) - min(us) + 1800000000 AS BIGINT) AS dur_us,
       CAST(count(*) AS BIGINT)                       AS n_events
FROM s GROUP BY user_id, sid
""",
    category=CAT,
    pure=True,
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as a JVM double window over one user-keyed sort:
    lag -> new-session flag -> running sum (session id) -> hash agg.

    One shape at every size.  The round-10 1000x record favoured a
    per-user Arrow grouped map (10.5-12.4 s vs 21.7-26.8 s), but that
    layout (~17 GB) and any workload on that side of the switch are not
    in this checkout, and the grouped map lost 4-24x at the scales that
    can be built here (CHANGES.md).  Native batch session_window was
    slower at 1000x (24.8-28.5 s: the merging pass runs outside
    whole-stage codegen).

    Tie semantics (round-9 stream-edge fixture): the break condition
    is gap STRICTLY GREATER than 30 min — Spark's native
    session_window MERGES touching sessions, so the batch twin and
    the oracle mirror that (>= diverged on exact ties).

    NULL event time excluded symmetrically with the streaming twin's
    source filter (round-9 stream-edge class): a NULL ts has no
    session semantics, and left in, the engines disagree on where it
    even SORTS before the arithmetic goes three-valued."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("us").over(w)
    new_s = F.when(prev.isNull() | (F.col("us") - prev > GAP_US), 1).otherwise(0)
    return (
        ev.withColumn("sid", F.sum(new_s).over(run))
        .groupBy("user_id", "sid")
        .agg(
            bigint(F.min("us")).alias("sess_start_us"),
            bigint(F.max("us") - F.min("us") + GAP_US).alias("dur_us"),
            bigint(F.count(F.lit(1))).alias("n_events"),
        )
        .drop("sid")
    )


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
    category=CAT,
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
