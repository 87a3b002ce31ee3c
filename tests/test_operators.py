"""Layer-2 oracle parity tests (SURVEY.md §5.2): every registered
operator with an oracle is hash-compared against DuckDB on sf0.01 —
a local replica of the driver's t2 gate.  Oracle-less (rows-only)
operators are smoke-run and must return a non-None DataFrame with a
stable schema; their semantic checks live in test_properties.py."""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from trip_data_pipeline_spark.registry import OPS, PRIORITY, oracle_sql, queries
from tests.oracle import compare

queries()  # force registration


def assert_driver_safe_schema(name, df):
    """Regression gate (VERDICT r3 item 1): the DRIVER's pandas
    canonicalizer cannot sort ArrayType/MapType/StructType cells
    (`TypeError: unhashable type: 'list'` — CORRECTNESS_r03 ERR on
    array_higher_order / embed_quantize_int8).  Every hash-checked op
    must project complex columns through a scalar encoding
    (array_join / to_json) on both engine sides."""
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: hash-checked op projects complex-typed columns {bad}; "
        "the driver canonicalizer will ERR — encode as scalars on both sides"
    )


def test_registry_order_and_oracles():
    """queries() lists every registered op exactly once, PRIORITY
    first and in order; oracle_sql() holds exactly the ops that
    declare an oracle.  No Spark session needed."""
    names = list(queries())
    assert len(names) == len(set(names))
    assert set(names) == set(OPS)
    assert names[: len(PRIORITY)] == list(PRIORITY)
    oracles = oracle_sql()
    assert set(oracles) == {n for n, o in OPS.items() if o.oracle is not None}
    assert all(oracles[n] == OPS[n].oracle for n in oracles)


def _names():
    return sorted(OPS)


@pytest.mark.parametrize("name", _names())
def test_operator(name, spark, duck, sf_dir):
    o = OPS[name]
    df = o.fn(spark, sf_dir)
    assert df is not None
    if o.oracle is None:
        n = df.count()
        assert n >= 0
        assert len(df.columns) > 0
    else:
        assert_driver_safe_schema(name, df)
        compare(df, duck, o.oracle)
