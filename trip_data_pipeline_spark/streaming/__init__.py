"""Structured Streaming harness (SURVEY.md §2.9, §3.2 entry point 3).

Determinism rules (SURVEY.md §7 hard-part 6): always
``Trigger.AvailableNow`` (drain the static fixture and stop — never
processing-time triggers), unique in-memory sink names per run, and
event-time math on integer microseconds.

At scale the same queries run unchanged against a real source (Kafka,
files-on-arrival): AvailableNow is exactly the production backfill
trigger, watermarks bound state store size, and the session/window
aggregations shuffle by (key, window) — state is per-key-and-window,
not global.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from trip_data_pipeline_spark.io import EVENTS_NTZ_SCHEMA, ns_to_ts
from trip_data_pipeline_spark.session import one_wave_partitions


def _is_single_file(spark: SparkSession, path: str) -> bool:
    """True when `path` is a single FILE (not a table directory), for
    any filesystem scheme Spark itself can read.  The local fast path
    is os.path.isfile; remote URIs stat through the JVM-side Hadoop
    FileSystem so s3a://-style layouts answer correctly instead of
    being assumed directories (ADVICE r7 item 4).  A failed stat
    (missing path, bad credentials) returns False — the caller's
    directory branch plus the empty-source guard report it loudly."""
    if os.path.isfile(path):
        return True
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.getFileStatus(jpath).isFile())
    except Exception:
        return False


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream (NTZ->µs ts conversion as in
    batch io.load).

    Layout-robust since round 7: a production events table is a
    DIRECTORY of part files, which the streaming file source loads
    directly; the sf fixtures ship events.parquet as a single FILE,
    which `readStream.load(<file>)` rejects ("basePath must be a
    directory") — that shape needs the parent-dir + pathGlobFilter
    form instead.  The old glob-only form matched ZERO files on a
    directory layout and every downstream stream silently drained 0
    batches (caught by the round-7 whole-registry 10x profile:
    stream_foreachbatch_sink's re-read failed loudly, thirteen
    siblings returned empty results).  An unstatable path (remote
    URI) takes the directory branch — the only shape a remote table
    has.  The empty-source guard below turns the silent-zero failure
    mode into a loud one: the premise check costs one file listing,
    and the streaming ops already execute at construction
    (AvailableNow-to-completion), so it adds no new execution
    semantics.

    Remote single-file handling (ADVICE r7 item 4): os.path.isfile is
    False on EVERY remote URI, so the round-7 shape sent all remote
    paths down the directory branch — and a remote events.parquet
    that is a single file only fails at query START
    ("Option 'basePath' must be a directory", raised inside
    MicroBatchExecution, far from the cause).  The file-vs-directory
    question is therefore answered with the Hadoop FileSystem stat
    for the path's own scheme (s3a/hdfs/file all resolve), which is
    exactly the listing the stream source performs anyway; a failed
    stat falls through to the directory branch and the empty-source
    guard below turns any truly-broken path into a loud error."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    reader = spark.readStream.format("parquet").schema(EVENTS_NTZ_SCHEMA)
    # Round-12 paced-drain harness (VERDICT r11 item 3): with
    # STREAM_MAX_FILES_PER_TRIGGER set, AvailableNow drains the layout
    # in MULTIPLE micro-batches of at most N files each (oldest
    # modification time first — the production files-on-arrival
    # order), so the watermark advances between batches and join/agg
    # state stays bounded instead of holding the full history in one
    # batch.  Unset (the default, and every driver/test path), the
    # reader is byte-identical to the round-11 shape.
    mfpt = os.environ.get("STREAM_MAX_FILES_PER_TRIGGER")
    if mfpt:
        reader = reader.option("maxFilesPerTrigger", int(mfpt))
    if _is_single_file(spark, path):
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    else:
        raw = reader.load(path)
    # Round-12 (guide §1/§5): the non-empty premise check is a batch
    # job (~0.13-0.19 s) and the stream-stream joins construct TWO
    # sources per op, so the check ran twice per invocation.  The
    # fixture path's emptiness cannot change within a session (io.load
    # memoizes the batch scan of the same file for the same reason),
    # so the VERDICT of the check — not any query result — is memoized
    # per (session, path) on the session object, mirroring io.load's
    # per-session memo.  First use still fails loudly on an empty
    # source; replacing a fixture mid-process needs a fresh session,
    # the documented io.load contract.
    try:
        checked = spark._graft_stream_premise_ok  # type: ignore[attr-defined]
    except AttributeError:
        checked = spark._graft_stream_premise_ok = set()  # type: ignore[attr-defined]
    if path not in checked:
        if spark.read.format("parquet").schema(EVENTS_NTZ_SCHEMA).load(
            path
        ).isEmpty():
            raise AssertionError(
                f"read_events_stream premise broken: {path} matched no rows "
                "— a stream over it would silently drain zero batches"
            )
        checked.add(path)
    # NULL event time is excluded AT THE SOURCE (round-9 stream-edge
    # class): every §2.9 operator is event-time-keyed, and a NULL
    # event time has no watermark/window/join-bound semantics — left
    # in, the engine's behavior is silently MIXED (window aggs drop
    # the NULL window, dedup/applyInPandasWithState would carry the
    # row and feed NaT into state, join range predicates drop it
    # three-valuedly).  One explicit rule, mirrored by WHERE ts IS
    # NOT NULL in every streaming batch oracle, is what a production
    # ingest's NOT NULL event-time constraint enforces upstream.
    # Locked by docs/PARITY_STREAM_EDGE.json on the NULL-ts fixture.
    return ns_to_ts(raw).filter("ts IS NOT NULL")


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    *,
    final_no_data_batch: bool = True,
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into an
    in-memory table; return the materialized batch DataFrame.

    final_no_data_batch=False skips the engine's trailing NO-DATA
    micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``,
    set around this query only and restored).  That batch exists so a
    LIVE stream evicts state / fires timeouts promptly between
    arrivals; on an AvailableNow bounded drain whose result is read
    only after termination it can change the final table ONLY when
    state eviction itself emits rows — append-mode window aggregations
    (finalized windows emit one batch after their data) and the outer
    join's null-extension.  For inner stream-stream joins (eviction
    never emits), streaming dedup (rows emit on arrival), update-mode
    NoTimeout stateful ops (nothing fires), and complete mode (state
    is never dropped; the last data batch already re-emits the full
    table), the trailing batch is pure cost: a full state-store
    load+commit cycle across every state partition with zero input —
    measured 1.8-2.6 s of the stream-stream join's 5-8 s at sf0.1, and
    at scale it costs one state reload across thousands of partitions.
    Callers in those four classes pass False; append-mode aggregations
    whose finalized windows are emitted by exactly that batch MUST
    keep the default — of the registered ops that is
    stream_two_level_window.  (stream_watermark_late is the documented
    exemption: its late rows never advance the watermark, so the
    trailing eviction watermark equals the already-emitted one — the
    op-local rationale lives at its call site in streaming_ops.py.)
    Output-identity for every opted-out op is locked by the oracle
    hashes plus tests/test_streaming.py.

    ``spark.sql.shuffle.partitions`` is pinned to one task wave
    (``session.one_wave_partitions``) for the query's lifetime.  AQE is
    off in micro-batches, so every shuffle partition of a stateful
    operator is a task that loads and commits its own state store; the
    count is fixed into the query's offset log at its first start.  At
    the batch default of 16 on 4 cores, ``stream_tumbling_count``'s one
    batch committed 16 stores for 3,600 state rows at sf0.1, 1.4 s of
    summed commit time; at 4 stores it is 0.46 s (CHANGES.md).  The
    drains that do not come through here need no pin: the foreachBatch
    sink and the checkpoint-resume drain are stateless file-to-file
    queries with no shuffle, and their aggregation runs afterwards as a
    batch query that AQE coalesces."""
    spark = stream_df.sparkSession
    # Round-12 paced-drain harness (VERDICT r11 item 3): the memory
    # sink materializes the FULL drained output on the driver — fine
    # for fixture-scale results, fatal for the ~10^8-row stream-stream
    # join outputs the 1000x paced drain produces.  With
    # STREAM_SINK_DIR set and an append-mode query (the only mode the
    # file sink supports — exactly the stream-stream join family the
    # harness targets), the drain lands in parquet and the returned
    # DataFrame is a batch scan of it: executor-parallel, never
    # driver-resident.  Unset (the default, and every driver/test
    # path), behavior is byte-identical to the round-11 shape.
    pins = {"spark.sql.shuffle.partitions": str(one_wave_partitions(spark))}
    if not final_no_data_batch:
        pins["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    # Both are read at query start (the offset log / IncrementalExecution
    # capture them); the drain below is synchronous, so set/restore is
    # race-free within this op's single-threaded construction.
    saved = {k: spark.conf.get(k) for k in pins}
    try:
        for k, v in pins.items():
            spark.conf.set(k, v)
        sink_dir = os.environ.get("STREAM_SINK_DIR")
        if sink_dir and output_mode == "append":
            out = os.path.join(sink_dir, f"out_{uuid.uuid4().hex[:12]}")
            q = (
                stream_df.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", out + "_ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.schema(stream_df.schema).parquet(out)
        name = f"mem_{uuid.uuid4().hex[:12]}"
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
