"""Local replica of the driver's DuckDB oracle check (SURVEY.md §5.2
layer 2): run the Spark DataFrame and the oracle SQL on the same parquet,
canonicalize both to an order-insensitive bag of rows keyed by sorted
column names, and diff.  Failures here predict failures in the driver's
CORRECTNESS_r{N}.json, but are debuggable."""

from __future__ import annotations

import math
import os
from collections import Counter
from typing import Any

import duckdb

from trip_data_pipeline_spark.io import TABLES, table_path


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = table_path(sf_dir, t)
        if os.path.isdir(path):
            # Spark-written table: a directory of part files (e.g. the
            # 10x replicated probe dataset) — DuckDB needs the glob.
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_val(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # values are pre-rounded by the queries; format to kill -0.0 and
        # float noise in the repr without changing the rounded value
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_val(x)) for k, x in v.items()))
    if isinstance(v, (int, str, bool)):
        return v
    try:  # numpy scalars
        import numpy as np

        if isinstance(v, np.generic):
            return _canon_val(v.item())
        if isinstance(v, np.ndarray):
            return tuple(_canon_val(x) for x in v.tolist())
    except ImportError:
        pass
    # dates, timestamps, decimals, Rows -> string form
    return str(v)


def driver_sort_check(cols: list[str], rows: list[tuple]) -> None:
    """Replicate the DRIVER's canonicalization step exactly: it loads the
    result into pandas and calls ``sort_values`` over all columns, which
    raises ``TypeError: unhashable type: 'list'`` for ArrayType/MapType
    cells (CORRECTNESS_r03: array_higher_order / embed_quantize_int8
    ERR'd in the driver while our tuple-izing canon stayed green — a
    harness-parity blind spot).  Run the same pandas path here so list
    columns crash LOCALLY first; also raise explicitly in case a pandas
    version change ever makes sort_values tolerant."""
    import pandas as pd

    for r in rows:
        for v in r:
            if isinstance(v, (list, dict, set)) or (
                hasattr(v, "ndim") and getattr(v, "ndim", 0) > 0
            ):
                raise TypeError(
                    "unhashable type: 'list' (driver canonicalizer cannot "
                    "sort ArrayType/MapType cells — project a scalar "
                    "encoding, e.g. array_join/to_json, on BOTH sides)"
                )
    pdf = pd.DataFrame(rows, columns=cols)
    pdf = pdf.reindex(sorted(cols), axis=1)
    pdf.sort_values(by=sorted(cols))  # same call the driver makes


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def spark_result(df) -> tuple[list[str], list[tuple]]:
    cols = list(df.columns)
    rows = [tuple(r) for r in df.collect()]
    return cols, rows


def duck_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return cols, rows


def diff_results(
    s_cols: list[str], s_rows: list[tuple], d_cols: list[str], d_rows: list[tuple]
) -> str | None:
    """None when the Spark result equals the DuckDB one under the
    driver's check (column names, row count, order-insensitive values),
    else what differs: the column lists, the row counts, or up to 3
    spark-only and 3 duck-only canonical rows.  Raises like the driver
    on list cells (driver_sort_check)."""
    if sorted(s_cols) != sorted(d_cols):
        return f"column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    driver_sort_check(s_cols, s_rows)
    driver_sort_check(d_cols, d_rows)
    sc = Counter(canon_rows(s_cols, s_rows))
    dc = Counter(canon_rows(d_cols, d_rows))
    if sc == dc:
        return None
    only_s = list((sc - dc).elements())[:3]
    only_d = list((dc - sc).elements())[:3]
    return (
        f"value mismatch; cols={sorted(s_cols)}\n"
        f"spark-only rows: {only_s}\nduck-only rows: {only_d}"
    )


def compare(df, con, sql: str) -> None:
    """Assert Spark df == DuckDB sql result (see diff_results)."""
    msg = diff_results(*spark_result(df), *duck_result(con, sql))
    assert msg is None, msg
