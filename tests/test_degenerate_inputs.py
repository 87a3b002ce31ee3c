"""Degenerate-input locks from the round-8 at-scale parity sweep.

The sweep (docs/PARITY_10x.json) found abtest_two_proportion crashing
with ANSI DIVIDE_BY_ZERO on the 10x layout: replication multiplies
per-user event counts, every user crosses the conversion threshold,
pooled p hits 1 and the z denominator sqrt(p*(1-p)*(1/n_a+1/n_b)) is
exactly 0.  That input shape is real at 100 TB (any segment where
everyone — or no one — converts), so the op now returns NULL for the
undefined statistic instead of raising.  These tests drive the op
END-TO-END on purpose-built degenerate fixtures (not just the guard
expression) and pin Spark==DuckDB on them.
"""

from __future__ import annotations

import duckdb
import pytest

ABTEST_SQL_COLS = ["n_a", "c_a", "n_b", "c_b", "cvr_a_ppm", "cvr_b_ppm", "z_milli"]


def _write_events(spark, tmpdir: str, rows: list[tuple]) -> str:
    """rows: (event_id, user_id, event_type); ts/value/props filled in."""
    df = spark.createDataFrame(
        [(eid, uid, et) for eid, uid, et in rows],
        "event_id bigint, user_id bigint, event_type string",
    ).selectExpr(
        "event_id",
        "timestamp_micros(1700000000000000 + event_id * 1000000) AS ts",
        "user_id",
        "event_type",
        "CAST(event_id AS DOUBLE) / 10 AS value",
        "'{}' AS props",
    )
    df.write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")
    return tmpdir


def _run_both(spark, sf_dir: str):
    from trip_data_pipeline_spark.registry import OPS, queries

    queries()
    o = OPS["abtest_two_proportion"]
    s_row = o.fn(spark, sf_dir).collect()[0].asDict()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    d_raw = con.execute(o.oracle).fetchone()
    d_row = dict(zip([d[0] for d in con.execute(o.oracle).description], d_raw))
    return s_row, d_row


def test_abtest_everyone_converts_returns_null_z(spark, tmp_path):
    # 2 users per arm, every user has 14 purchases -> pooled p = 1
    rows = []
    eid = 0
    for uid in (1, 2, 3, 4):  # arms: uid%2
        for _ in range(14):
            rows.append((eid, uid, "purchase"))
            eid += 1
    sf = _write_events(spark, str(tmp_path), rows)
    s, d = _run_both(spark, sf)
    assert s["z_milli"] is None and d["z_milli"] is None
    assert s == d
    assert s["c_a"] == s["n_a"] and s["c_b"] == s["n_b"]


def test_abtest_no_one_converts_returns_null_z(spark, tmp_path):
    rows = [(i, uid, "view") for i, uid in enumerate((1, 2, 3, 4) * 3)]
    sf = _write_events(spark, str(tmp_path), rows)
    s, d = _run_both(spark, sf)
    assert s["z_milli"] is None and d["z_milli"] is None
    assert s["c_a"] == 0 and s["c_b"] == 0


def test_abtest_empty_arm_returns_null_rates(spark, tmp_path):
    # only even user_ids -> arm 1 (odd) is empty
    rows = []
    eid = 0
    for uid in (2, 4):
        for _ in range(14):
            rows.append((eid, uid, "purchase"))
            eid += 1
        rows.append((eid, uid, "view"))
        eid += 1
    sf = _write_events(spark, str(tmp_path), rows)
    s, d = _run_both(spark, sf)
    assert s["n_b"] == 0 and s["cvr_b_ppm"] is None and s["z_milli"] is None
    assert s == d


def test_abtest_mixed_outcomes_unchanged(spark, sf_dir, duck):
    """The guard must not move values where the statistic is defined —
    the fixture case the driver stamps (both outcomes in both arms)."""
    from tests.oracle import compare
    from trip_data_pipeline_spark.registry import OPS, queries

    queries()
    o = OPS["abtest_two_proportion"]
    df = o.fn(spark, sf_dir)
    row = df.collect()[0].asDict()
    assert row["z_milli"] is not None
    compare(df, duck, o.oracle)


def test_word_ngrams_total_below_k(spark):
    """word_ngrams must be total for ANY input length: the external
    size(ws) >= 3 filters at its call sites are defeated by codegen
    subexpression elimination when an inferred constraint on a
    shingle-derived column lands in the same Filter node (round-8
    degenerate sweep, dedup_minhash_recall_eval), so the guard lives
    INSIDE the expression.  1-word input must yield [], not raise."""
    from pyspark.sql import functions as F

    from trip_data_pipeline_spark.operators.common import SHINGLE_K, word_ngrams

    df = spark.createDataFrame(
        [(0, []), (1, ["a"]), (2, ["a", "b"]), (3, ["a", "b", "c"])],
        "id int, ws array<string>",
    )
    got = {
        r["id"]: r["sh"]
        for r in df.select("id", word_ngrams(F.col("ws"), SHINGLE_K).alias("sh")).collect()
    }
    assert got == {0: [], 1: [], 2: [], 3: ["a b c"]}


def test_row_index_premise_checked_through_spark(spark, sf_dir, tmp_path):
    """scan_metadata_row_index holds only for ONE events file
    (row_index resets per file).  The op counts the files Spark lists
    for its scan, so a two-file table read through a URI that os
    cannot stat fails loudly instead of as an opaque hash mismatch."""
    from trip_data_pipeline_spark.io import load
    from trip_data_pipeline_spark.registry import OPS, queries

    queries()
    load(spark, sf_dir, "events").repartition(2).write.parquet(
        str(tmp_path / "events.parquet")
    )
    with pytest.raises(AssertionError, match="premise broken"):
        OPS["scan_metadata_row_index"].fn(spark, f"file://{tmp_path}")
