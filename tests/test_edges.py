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


def test_hash_and_quantize_kernels_match_duckdb(spark):
    """The two encodings every hash-checked op shares with its oracle:
    common.hex_int / duck_hex_int (md5 hex -> bigint) agree with each
    other and with Python's int(hex, 16) at every (start, n) the ops
    use, including md5s with a leading 0 or f; the MinHash 56-bit parse
    splits into the two 28-bit parses minhash_signatures_arrow relies
    on; and qmilli / duck_qmilli agree on float32 inputs at exact
    half-milli boundaries, zero, negatives and NULL."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    from trip_data_pipeline_spark.operators.common import (
        duck_hex_int,
        duck_qmilli,
        hex_int,
        qmilli,
    )

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    lead = {c: next(s for s in map(str, range(1000)) if md5(s)[0] == c) for c in "0f"}
    texts = ["", "héllo wörld 日本", lead["0"], lead["f"]]
    spans = [(1, 4), (1, 7), (8, 7), (15, 7), (22, 7), (1, 14)]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"id": range(len(texts)), "s": texts}))
    sdf = spark.createDataFrame(list(enumerate(texts)), "id int, s string")
    cols = [hex_int(F.md5("s"), st, n).alias(f"h{st}_{n}") for st, n in spans]
    got = sorted(tuple(r) for r in sdf.select("id", *cols).collect())
    duck = ", ".join(duck_hex_int("md5(s)", st, n) for st, n in spans)
    want = sorted(con.execute(f"SELECT id, {duck} FROM t").fetchall())
    ref = [
        (i, *(int(md5(s)[st - 1 : st - 1 + n], 16) for st, n in spans))
        for i, s in enumerate(texts)
    ]
    assert got == want == ref, f"spark={got}\nduck={want}\npython={ref}"
    for _, _, h1_7, h8_7, *_, hab in got:
        assert hab >> 28 == h1_7
        assert hab & ((1 << 28) - 1) == h8_7

    # float32 values whose x*1000 is an exact .5 (k/16), their float32
    # neighbours, values printed as x.xxx5, zero, -0.0 and negatives
    halves = np.float32([0.0625, -0.0625, 0.3125, -0.3125, 2.5625, -2.5625])
    near = np.concatenate(
        [np.nextafter(halves, np.float32(np.inf)), np.nextafter(halves, np.float32(-np.inf))]
    )
    printed = np.float32([0.0005, -0.0005, 1.2345, -1.2345, 0.0015, -0.9995])
    rest = np.float32([0.0, -0.0, -3.0])
    xs = [float(x) for x in np.concatenate([halves, near, printed, rest])] + [None]
    ids = pa.array(range(len(xs)), pa.int32())
    con.register("q", pa.table({"id": ids, "x": pa.array(xs, pa.float32())}))
    sq = spark.createDataFrame(list(enumerate(xs)), "id int, x float")
    got = sorted(tuple(r) for r in sq.select("id", qmilli(F.col("x"))).collect())
    want = sorted(con.execute(f"SELECT id, CAST({duck_qmilli('x')} AS BIGINT) FROM q").fetchall())
    assert got == want, f"spark={got}\nduck={want}"
    assert dict(got)[0] == 63 and dict(got)[1] == -62 and dict(got)[len(xs) - 1] is None


def test_word_ngram_kernels_match_duckdb(spark):
    """The word n-gram every n-gram op shares with its oracle:
    common.word_ngrams / duck_word_ngrams agree with each other and
    with a plain-Python sliding window, gram for gram and in order, at
    every n the ops use, on an empty text, one word, exactly n words, a
    doubled space (an empty word) and unicode words; NULL text gives no
    rows once exploded, in both engines."""
    from trip_data_pipeline_spark.operators.common import duck_word_ngrams, word_ngrams

    con = duckdb.connect()
    for n in (2, 3, 4, 5, 6, 8):
        texts = [
            "",
            "one",
            " ".join(f"w{i}" for i in range(n)),
            "a  b c d e f g h i",
            "héllo wörld 日本 語 ñandú ça χ ψ ω",
        ]
        ids = list(range(len(texts) + 1))
        sdf = spark.createDataFrame(list(zip(ids, texts + [None])), "id int, text string")
        got = sorted(
            tuple(r)
            for r in sdf.select(
                "id", F.posexplode(word_ngrams(F.split("text", " "), n))
            ).collect()
        )
        con.register("t", pd.DataFrame({"id": ids, "text": texts + [None]}))
        want = sorted(
            con.execute(
                f"SELECT id, generate_subscripts(g, 1) - 1, unnest(g) FROM "
                f"(SELECT id, {duck_word_ngrams('w', n)} AS g FROM "
                "(SELECT id, string_split(text, ' ') AS w FROM t))"
            ).fetchall()
        )
        ref = sorted(
            (i, p, " ".join(w[p : p + n]))
            for i, w in enumerate(t.split(" ") for t in texts)
            for p in range(len(w) - n + 1)
        )
        assert got == want == ref, f"n={n}\nspark={got}\nduck={want}\npython={ref}"
        assert {r[0] for r in ref} == {2, 3, 4}


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
