"""Layer-3/4 streaming semantics tests (SURVEY.md §5.2): golden
properties for the rows-only streaming operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load

SF = "/root/testdata/sf0.01"


def test_tumbling_counts_sum_to_total(spark):
    from trip_data_pipeline_spark.operators.streaming_ops import stream_tumbling_count

    res = stream_tumbling_count(spark, SF)
    total = res.agg(F.sum("n")).collect()[0][0]
    assert total == load(spark, SF, "events").count()


def test_watermark_drops_late_rows(spark):
    """Golden property: a late tail (behind the batch-1 watermark) must
    not change any emitted window, and the emitted windows must be the
    closed on-time windows."""
    from trip_data_pipeline_spark.operators.streaming_ops import stream_watermark_late

    res = {(r.win_start_s, r.n) for r in stream_watermark_late(spark, SF).collect()}
    # on-time-only expectation from batch SQL: hourly counts before the
    # cutoff; append mode withholds windows not yet past the watermark,
    # so emitted set must be a subset with identical counts.
    ev = load(spark, SF, "events").filter(F.col("ts") < "2024-01-20 00:00:00")
    expected = {
        (r.win_start_s, r.n)
        for r in ev.groupBy(
            F.expr("(unix_micros(ts) div 1000000) - (unix_micros(ts) div 1000000) % 3600").alias(
                "win_start_s"
            )
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert res <= expected
    # nearly all on-time windows are closed by the final watermark
    assert len(res) >= len(expected) - 1
    # and no window carries late-tail inflation (counts identical) --
    # guaranteed by res <= expected (same (window, count) pairs).


def test_stream_dedup_equals_batch_distinct(spark):
    from trip_data_pipeline_spark.operators.streaming_ops import stream_dedup_watermark

    res = {(r.event_type, r.n_users) for r in stream_dedup_watermark(spark, SF).collect()}
    expected = {
        (r.event_type, r.n)
        for r in load(spark, SF, "events")
        .select("user_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert res == expected


def test_stateful_runstate_equals_batch_agg(spark):
    from trip_data_pipeline_spark.operators.streaming_ops import stream_stateful_runstate

    res = {(r.user_id, r.n_events) for r in stream_stateful_runstate(spark, SF).collect()}
    expected = {
        (r.user_id, r.n)
        for r in load(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert res == expected


def test_transform_with_state_native_path(spark):
    """VERDICT r2 item 6: when google.protobuf is importable, the
    Spark-4 transformWithStateInPandas state API must be the path
    actually exercised (not the applyInPandasWithState fallback), and
    its output must equal the batch per-user aggregate.  In
    protobuf-less environments (this container) the native path cannot
    run — the skip records that explicitly instead of silently passing
    on the fallback."""
    import pytest

    from trip_data_pipeline_spark.operators.streaming_ops import (
        _twsip_available,
        stream_transform_with_state,
    )

    if not _twsip_available():
        pytest.skip(
            "google.protobuf absent: transformWithStateInPandas native "
            "path unavailable (fallback covered by "
            "test_stateful_runstate_equals_batch_agg)"
        )
    res = {
        (r.user_id, r.n_events)
        for r in stream_transform_with_state(spark, SF).collect()
    }
    expected = {
        (r.user_id, r.n)
        for r in load(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert res == expected


def test_foreachbatch_sink_preserves_rows(spark):
    from trip_data_pipeline_spark.operators.streaming_ops import stream_foreachbatch_sink

    res = stream_foreachbatch_sink(spark, SF)
    assert res.agg(F.sum("n")).collect()[0][0] == load(spark, SF, "events").count()


def test_events_stream_reads_directory_layout(spark, tmp_path):
    """Round-7 regression: a production events table is a DIRECTORY of
    part files; the old glob-only reader matched zero files on that
    shape and every stream silently drained 0 batches.  Build a 2-file
    directory layout and assert the stream sees every row."""
    from trip_data_pipeline_spark.streaming import read_events_stream, run_to_memory

    src = load(spark, SF, "events").limit(200)
    base = tmp_path / "sfdir"
    base.mkdir()
    # directory named events.parquet with >1 part file
    src.repartition(2).write.parquet(str(base / "events.parquet"))
    out = run_to_memory(
        read_events_stream(spark, str(base)).groupBy().count(), "complete"
    )
    assert out.collect()[0][0] == 200


def test_events_stream_empty_source_fails_loudly(spark, tmp_path):
    """The silent-zero failure mode must now raise at construction."""
    import pytest as _pytest

    from trip_data_pipeline_spark.streaming import read_events_stream

    base = tmp_path / "sfempty"
    base.mkdir()
    (base / "events.parquet").mkdir()  # empty table directory
    with _pytest.raises(Exception, match="premise broken|no rows|empty|PATH_NOT_FOUND|Unable to infer|[Ee]mpty"):
        read_events_stream(spark, str(base))


def test_events_stream_single_file_remote_shape(spark, monkeypatch):
    """ADVICE r7 item 4: an unstatable path (os.path.isfile False —
    every remote URI) must still read a SINGLE-FILE events.parquet.
    Simulate the remote stat failure against the local single-file
    fixture: the directory branch's readStream.load raises
    'basePath must be a directory' and the reader must retry with the
    parent-dir + pathGlobFilter form, seeing every row."""
    import trip_data_pipeline_spark.streaming as S
    from trip_data_pipeline_spark.streaming import read_events_stream, run_to_memory

    monkeypatch.setattr(S.os.path, "isfile", lambda p: False)
    out = run_to_memory(
        read_events_stream(spark, SF).groupBy().count(), "complete"
    )
    assert out.collect()[0][0] == load(spark, SF, "events").count()


def test_no_data_batch_skip_output_identity_and_conf_restore(spark):
    """Round-12 drain optimization: final_no_data_batch=False must
    (a) leave the drained result of a watermarked stateful streaming
    query IDENTICAL — for an inner stream-stream join, state eviction
    never emits, so the trailing no-data micro-batch is pure state-
    reload cost — and (b) restore the session's noDataMicroBatches
    conf afterwards (the flag is applied around one query only)."""
    from trip_data_pipeline_spark.streaming import (
        read_events_stream,
        run_to_memory,
    )

    sf = "/root/testdata/sf0.001"

    def joined():
        p = (
            read_events_stream(spark, sf)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                "user_id",
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        v = (
            read_events_stream(spark, sf)
            .filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "1 hour")
        )
        return p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") < F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
            "inner",
        ).select("purchase_id", "view_id", "user_id")

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key)
    with_ndb = sorted(
        map(tuple, run_to_memory(joined(), "append").collect())
    )
    assert spark.conf.get(key) == before
    without_ndb = sorted(
        map(
            tuple,
            run_to_memory(
                joined(), "append", final_no_data_batch=False
            ).collect(),
        )
    )
    assert spark.conf.get(key) == before  # restored, not leaked
    assert len(with_ndb) > 0
    assert with_ndb == without_ndb



def test_one_wave_partitions_rule():
    """Spark-free: min(shuffle.partitions, defaultParallelism), so it
    only ever lowers the session's count, and never below one."""
    from types import SimpleNamespace as NS

    from trip_data_pipeline_spark.session import one_wave_partitions

    def stub(parts, cores):
        conf = {"spark.sql.shuffle.partitions": str(parts)}
        return NS(conf=NS(get=conf.__getitem__), sparkContext=NS(defaultParallelism=cores))

    assert one_wave_partitions(stub(16, 4)) == 4
    assert one_wave_partitions(stub(16, 32)) == 16
    assert one_wave_partitions(stub(0, 4)) == 1
    assert one_wave_partitions(stub(16, 0)) == 1


PINNED = ("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled")


def _confs(spark):
    return {k: spark.conf.get(k) for k in PINNED}


def test_stateful_drain_runs_one_wave_of_state_stores(spark, sf_dir):
    """A stateful run_to_memory drain plans one task wave of state
    stores, not the batch default, and leaves the confs it pins as it
    found them."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from trip_data_pipeline_spark.session import one_wave_partitions
    from trip_data_pipeline_spark.streaming import read_events_stream, run_to_memory

    class Recorder(StreamingQueryListener):
        parts, done = [], threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.parts += [o.numShufflePartitions for o in event.progress.stateOperators]

        def onQueryTerminated(self, event):
            self.done.set()

    before = _confs(spark)
    rec = Recorder()
    spark.streams.addListener(rec)
    try:
        ev = read_events_stream(spark, sf_dir)
        agg = ev.groupBy(F.window("ts", "1 hour")).count()
        assert run_to_memory(agg, "complete", final_no_data_batch=False).count() > 0
        assert rec.done.wait(30)  # progress reaches listeners asynchronously
    finally:
        spark.streams.removeListener(rec)
    batch_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert set(rec.parts) == {one_wave_partitions(spark)}
    assert set(rec.parts) == {min(batch_default, spark.sparkContext.defaultParallelism)}
    assert _confs(spark) == before


def test_run_to_memory_restores_confs_when_start_raises(spark, sf_dir, monkeypatch):
    from pyspark.sql.streaming import DataStreamWriter

    from trip_data_pipeline_spark.session import one_wave_partitions
    from trip_data_pipeline_spark.streaming import read_events_stream, run_to_memory

    seen = {}

    def boom(self, *a, **kw):
        seen.update(_confs(spark))
        raise RuntimeError("start failed")

    session_confs = _confs(spark)
    before = dict(zip(PINNED, ("9", "true")))  # unlike the pins and the session's own
    try:
        for k, v in before.items():
            spark.conf.set(k, v)
        pinned = str(one_wave_partitions(spark))
        monkeypatch.setattr(DataStreamWriter, "start", boom)
        stream = read_events_stream(spark, sf_dir).groupBy().count()
        with pytest.raises(RuntimeError, match="start failed"):
            run_to_memory(stream, "complete", final_no_data_batch=False)
        assert seen == dict(zip(PINNED, (pinned, "false")))  # in force at start()
        assert _confs(spark) == before  # and gone after the raise
    finally:
        for k, v in session_confs.items():
            spark.conf.set(k, v)
