"""Layer-2 edge tests for scalar string semantics (SURVEY.md §5.3
rule 9): empty strings, multibyte, repeated separators — verified
Spark==DuckDB on a constructed table so the §2.8 operators' building
blocks are known-safe at the edges, not just on fixture data."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

EDGE = pd.DataFrame(
    {
        "id": [1, 2, 3, 4, 5],
        "s": ["", "é", "héllo wörld", "a  b", " padded  "],
    }
)


@pytest.fixture(scope="module")
def edge_pair(spark):
    sdf = spark.createDataFrame(EDGE)
    con = duckdb.connect()
    con.register("edge", EDGE)
    return sdf, con


def _cmp(sdf, con, spark_cols, duck_sql):
    got = sorted(tuple(r) for r in sdf.select("id", *spark_cols).collect())
    want = sorted(tuple(r) for r in con.execute(duck_sql).fetchall())
    assert got == want, f"spark={got}\nduck={want}"


def test_length_is_chars_both(edge_pair):
    sdf, con = edge_pair
    _cmp(
        sdf,
        con,
        [F.length("s").cast("bigint").alias("n")],
        "SELECT id, CAST(length(s) AS BIGINT) FROM edge",
    )


def test_substring_multibyte(edge_pair):
    sdf, con = edge_pair
    _cmp(
        sdf,
        con,
        [F.substring("s", 1, 3).alias("sub")],
        "SELECT id, substring(s, 1, 3) FROM edge",
    )


def test_upper_lower_multibyte(edge_pair):
    sdf, con = edge_pair
    _cmp(
        sdf,
        con,
        [F.upper("s").alias("u"), F.lower("s").alias("l")],
        "SELECT id, upper(s), lower(s) FROM edge",
    )


def test_split_repeated_separator(edge_pair):
    """'a  b' splits to ['a', '', 'b'] in both engines; '' splits to
    ['']."""
    sdf, con = edge_pair
    _cmp(
        sdf,
        con,
        [F.split("s", " ").alias("parts")],
        "SELECT id, string_split(s, ' ') FROM edge",
    )


def test_trim_and_concat(edge_pair):
    sdf, con = edge_pair
    _cmp(
        sdf,
        con,
        [
            F.trim(F.col("s")).alias("t"),
            F.concat_ws("-", F.col("s"), F.lit("x")).alias("c"),
        ],
        "SELECT id, trim(s), concat_ws('-', s, 'x') FROM edge",
    )


def test_reverse_multibyte(edge_pair):
    """reverse must be codepoint-wise in both engines (used by
    udf_python_scalar's oracle)."""
    sdf, con = edge_pair
    _cmp(
        sdf,
        con,
        [F.reverse(F.col("s")).alias("r")],
        "SELECT id, reverse(s) FROM edge",
    )


def test_md5_of_unicode(edge_pair):
    sdf, con = edge_pair
    _cmp(
        sdf,
        con,
        [F.md5(F.col("s")).alias("h")],
        "SELECT id, md5(s) FROM edge",
    )


def test_parse_extra_conf():
    """SPARK_GRAFT_EXTRA_CONF parsing (ADVICE r2/r3): well-formed
    entries round-trip, malformed entries raise loudly."""
    import pytest

    from trip_data_pipeline_spark.session import parse_extra_conf

    assert parse_extra_conf("") == []
    assert parse_extra_conf("  ;  ; ") == []
    assert parse_extra_conf("a.b=1") == [("a.b", "1")]
    assert parse_extra_conf(" a.b = 1 ; c.d = x=y ") == [
        ("a.b", "1"),
        ("c.d", "x=y"),  # partition: only the FIRST '=' splits
    ]
    with pytest.raises(ValueError, match="no '='"):
        parse_extra_conf("a.b=1;oops")
    with pytest.raises(ValueError, match="empty key"):
        parse_extra_conf("=1")


def test_load_memoizes_per_session_and_table(spark):
    """io.load memoizes the scan DataFrame per (session, dir, table):
    repeat loads return the IDENTICAL object (no repeated eager schema
    resolution — the round-5 bench fix), distinct tables/dirs miss."""
    from trip_data_pipeline_spark.io import load

    a = load(spark, "/root/testdata/sf0.001", "nation")
    b = load(spark, "/root/testdata/sf0.001", "nation")
    assert a is b
    c = load(spark, "/root/testdata/sf0.001", "region")
    assert c is not a
    d = load(spark, "/root/testdata/sf0.01", "nation")
    assert d is not a
    # so spread()'s exact partition probe runs once per table: PySpark
    # caches the memoized frame's RDD
    assert load(spark, "/root/testdata/sf0.001", "nation").rdd is a.rdd
