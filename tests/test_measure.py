"""tools/measure.py in-process on the session fixture: one layer record
per op from perfbench's tracer, the plan capture, and an op that raises."""

from __future__ import annotations

from tools.measure import measure
from trip_data_pipeline_spark.registry import OPS, Op


def test_batch_op_record_and_plan(spark, sf_dir, tmp_path):
    rec = measure(spark, sf_dir, ["agg_pricing_summary"], reps=1, plans=str(tmp_path))
    rec = rec["agg_pricing_summary"]
    assert rec["jobs"] >= 1 and rec["stages"] >= 1
    assert rec["tasks"] >= rec["stages"]
    assert rec["execute_s"] > 0
    assert "Physical Plan" in (tmp_path / "agg_pricing_summary.txt").read_text()


def test_stream_op_records_batches_and_state(spark, sf_dir):
    rec = measure(spark, sf_dir, ["stream_tumbling_count"], reps=1)["stream_tumbling_count"]
    assert rec["batches"] >= 1
    assert rec["state_rows"] > 0


def test_unknown_or_raising_op_is_err_and_the_loop_moves_on(spark, sf_dir, monkeypatch):
    def boom(spark, sf_dir):
        raise ValueError("boom")

    monkeypatch.setitem(OPS, "measure_boom", Op("measure_boom", boom, None, "test"))
    out = measure(spark, sf_dir, ["no_such_op", "measure_boom", "limit_topk"], reps=1)
    assert out["no_such_op"]["err"].startswith("KeyError")
    assert out["measure_boom"]["err"] == "ValueError: boom"
    assert "err" not in out["limit_topk"] and out["limit_topk"]["jobs"] >= 1
