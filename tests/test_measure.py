"""tools/measure.py in-process on the session fixture: one layer record
per op from perfbench's tracer, the plan capture, and an op that raises;
and, without Spark, the plan normalization that lets two captures diff."""

from __future__ import annotations

import tempfile

from tools.measure import measure, normalize_plan
from trip_data_pipeline_spark.registry import OPS, Op


def test_batch_op_record_and_plan(spark, sf_dir, tmp_path):
    rec = measure(spark, sf_dir, ["agg_pricing_summary"], reps=2, plans=str(tmp_path))
    rec = rec["agg_pricing_summary"]
    assert rec["jobs"] >= 1 and rec["stages"] >= 1
    assert rec["tasks"] >= rec["stages"]
    assert rec["execute_s"] > 0
    assert rec["compiles"] == [0, 0]  # the warm write cached its classes
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


def test_normalize_plan_replaces_session_counters_and_random_names():
    tmp = tempfile.gettempdir()
    plan = (
        "(1) Scan parquet spark_catalog.default.orders_b_3f9a0c1e\n"
        f"Location: InMemoryFileIndex [file:{tmp}/bucketed_9zxr0n_e/customer_b_0a1b2c3d]\n"
        f"Location: InMemoryFileIndex [file:{tmp}/scan_csv_opts_c6scsbs8]\n"
        "Output [2]: [o_orderkey#123L, o_totalprice#7]\n"
        "(2) Project [codegen id : 1]\n"
        "Input: transform(ws#16, lambdafunction((lambda x_12#18 + 1), lambda x_12#18, false))\n"
        "Input: zip_with(a#3, b#4, lambdafunction((lambda x_13#19 * lambda y_14#20), lambda x_13#19, lambda y_14#20, false))\n"
        "Arguments: [plan_id=42], MapPartitionsRDD[590] at localCheckpoint at <unknown>:0\n"
        "Scan ExistingRDD: RDD[251] at toRdd at NativeMethodAccessorImpl.java:0\n"
        "With: _common_expr_3#99 AS _common_expr_3\n"
    )
    assert normalize_plan(plan) == (
        "(1) Scan parquet spark_catalog.default.orders_b_SUFFIX\n"
        "Location: InMemoryFileIndex [file:TMP/bucketed_XXXXXXXX/customer_b_SUFFIX]\n"
        "Location: InMemoryFileIndex [file:TMP/scan_csv_opts_XXXXXXXX]\n"
        "Output [2]: [o_orderkey#NL, o_totalprice#N]\n"
        "(2) Project [codegen id : 1]\n"
        "Input: transform(ws#N, lambdafunction((lambda x_N#N + 1), lambda x_N#N, false))\n"
        "Input: zip_with(a#N, b#N, lambdafunction((lambda x_N#N * lambda y_N#N), lambda x_N#N, lambda y_N#N, false))\n"
        "Arguments: [plan_id=N], MapPartitionsRDD[N] at localCheckpoint at CALLSITE\n"
        "Scan ExistingRDD: RDD[N] at toRdd at CALLSITE\n"
        "With: _common_expr_N#N AS _common_expr_N\n"
    )
    # a capture that is already normalized stays as it is
    assert normalize_plan(normalize_plan(plan)) == normalize_plan(plan)
