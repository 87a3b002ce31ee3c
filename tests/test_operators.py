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


def test_operator_modules_by_family():
    """One module per operator family: category and module map one to
    one over OPS, an op whose name prefix names a family lives in that
    family's module, no op module imports a ``_private`` name from
    another op module, no function body in an op module imports an
    engine module, and no op module or category is named after a build
    round.  No Spark session needed."""
    import ast
    import pathlib
    import re

    pkg = "trip_data_pipeline_spark"
    ops_dir = pathlib.Path(__file__).resolve().parents[1] / pkg / "operators"
    op_module = {n: o.fn.__module__.rsplit(".", 1)[-1] for n, o in OPS.items()}
    mod_cats: dict[str, set[str]] = {}
    cat_mods: dict[str, set[str]] = {}
    for o in OPS.values():
        mod = op_module[o.name]
        mod_cats.setdefault(mod, set()).add(o.category)
        cat_mods.setdefault(o.category, set()).add(mod)
    assert {m: c for m, c in mod_cats.items() if len(c) > 1} == {}
    assert {c: m for c, m in cat_mods.items() if len(m) > 1} == {}
    op_mods = {p.stem for p in ops_dir.glob("*.py")} - {"__init__", "common"}
    assert op_mods == set(mod_cats)

    # an op whose name prefix names a family lives in that family's
    # module (stream_static_join is a stream-static join, not a 2.9 op)
    family = {
        "agg": "aggregates", "array": "scalar_funcs", "bpe": "corpus",
        "corpus": "corpus", "dedup": "dedup", "dq": "dq", "embed": "similarity",
        "eval": "corpus", "events": "lifecycle", "geo": "geo", "graph": "graph",
        "join": "joins", "kmeans": "graph", "limit": "sorting", "lm": "corpus",
        "multimodal": "multimodal", "orders": "lifecycle", "pack": "corpus",
        "rollup": "timeseries", "sample": "setops", "scalar": "scalar_funcs",
        "scan": "scans", "search": "text_ops", "sessionize": "sessionize",
        "set": "setops", "sim": "similarity", "sink": "scans",
        "sql": "scalar_funcs", "str": "scalar_funcs", "stream": "streaming_ops",
        "text": "text_ops", "timeseries": "timeseries", "udf": "udfs",
        "validate": "dq", "vocab": "corpus", "win": "windows", "q": "composite",
    }
    misplaced = []
    for name, mod in op_module.items():
        prefix = "q" if re.match(r"q\d+_", name) else name.split("_")[0]
        if family.get(prefix, mod) != mod and name != "stream_static_join":
            misplaced.append(f"{name} in {mod}")
    assert misplaced == []

    round_named = re.compile(r"round|scale\d|\w+\d$")
    assert [n for n in op_mods | set(cat_mods) if round_named.search(n)] == []

    def is_engine(name):
        return name == pkg or name.startswith(pkg + ".")

    private, local = [], []
    for path in sorted(ops_dir.glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module:
                src = node.module.rsplit(".", 1)[-1]
                if node.module == f"{pkg}.operators.{src}" and src in op_mods:
                    private += [
                        f"{path.stem}: {src}.{a.name}"
                        for a in node.names
                        if a.name.startswith("_")
                    ]
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for sub in ast.walk(fn):
                names = []
                if isinstance(sub, ast.Import):
                    names = [a.name for a in sub.names]
                elif isinstance(sub, ast.ImportFrom):
                    names = [sub.module or ""]
                local += [
                    f"{path.stem}.{fn.name}: {n}" for n in names if is_engine(n)
                ]
    assert private == []
    assert local == []


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
