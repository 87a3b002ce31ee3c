"""Simulate the driver's verify pass end-to-end: fresh vanilla
SparkSession (none of our session configs), import __spark_entry__,
run entry() + every queries()[name] at sf0.01, compare each against
oracle_sql()[name] via DuckDB exactly like the t2 gate.

Usage: python tests/driver_sim.py [sf_dir] [only_csv]
  only_csv: optional comma-separated op names — restrict the sweep to
  these (window spot-checks); default = every registered op.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from tests.oracle import diff_results, duck_connect, duck_result, spark_result


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # vanilla session: deliberately NOT trip_data_pipeline_spark.get_session —
    # the driver builds its own and we must not depend on our configs.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    df = entrymod.entry(spark)
    n = df.count()
    print(f"entry(): {n} rows, schema={df.schema.simpleString()}")
    assert n > 0

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if len(sys.argv) > 2:
        only = set(sys.argv[2].split(","))
        unknown = only - set(qs)
        assert not unknown, f"unknown op names: {sorted(unknown)}"
        qs = {n: f for n, f in qs.items() if n in only}
    con = duck_connect(sf_dir)
    fails: list[str] = []
    for name in sorted(qs):
        t0 = time.time()
        detail = ""
        try:
            rdf = qs[name](spark, sf_dir)
            if name in oracles:
                detail = diff_results(
                    *spark_result(rdf), *duck_result(con, oracles[name])
                ) or ""
                ok = not detail
                status = "HASH-OK" if ok else "HASH-MISMATCH"
            else:
                c = rdf.count()
                ok, status = True, f"ROWS-ONLY({c})"
        except Exception as exc:  # noqa: BLE001
            ok, status = False, f"ERROR: {exc}"
        dt = time.time() - t0
        print(f"  {name:32s} {status:16s} {dt:5.2f}s")
        if detail:
            print("    " + detail.replace("\n", "\n    "))
        if not ok:
            fails.append(name)
    print(f"{len(qs) - len(fails)}/{len(qs)} ok")
    if fails:
        print("FAILED:", fails)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
