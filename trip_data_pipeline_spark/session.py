"""SparkSession factory (SURVEY.md §7 M0).

One shared session for tests/bench: JVM startup dominates at small scale
(SURVEY.md §6), and the settings below are the 100-TB-minded defaults:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion from observed sizes).
- Arrow on (JVM->Python collection via Arrow IPC batches).
- shuffle.partitions sized to cores, not the 200 default — at cluster
  scale this would be set ~2-3x total cores / autotuned by AQE.  The
  16 is a batch figure: AQE coalesces a batch shuffle's partitions at
  run time.  Stages AQE cannot coalesce — streaming micro-batches (AQE
  is off there, and every shuffle partition is a task that loads and
  commits its own state store) and explicit ``repartition(n, col)`` —
  are sized to one task wave instead, see ``one_wave_partitions``.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC).
- Python workers start from ``pyworker`` (``spark.python.daemon.module``),
  which stops every task from re-parsing ``pyspark.zip``'s directory
  (~0.2 s of CPU per task, see that module).  The daemon now imports
  this package, so the workers' ``PYTHONPATH`` names the package's
  parent directory: a driver started outside the checkout with
  ``PYTHONPATH`` unset would otherwise lose its daemon.
- Generated-code cache (``spark.sql.codegen.cache.maxEntries``) sized
  to 1024 classes, not the stock 100.  The cache lives across queries,
  and the ten ``bench.py`` queries alone compile 108-111 distinct
  classes, so at 100 slots every warm pass over them recompiled 16-75
  of them with Janino, depending on the pass order, and the JVM lost
  their JIT state; at 1024 a warm pass compiles none.  The cost is
  memory held for the session's life: cached classes stay in Metaspace
  (the driver read ~150 MB of Metaspace after the ten at either size).
  Static conf: it is read when the session starts.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_extra_conf(extra: str) -> list[tuple[str, str]]:
    """Parse SPARK_GRAFT_EXTRA_CONF ('k=v;k=v').  Values may not
    contain ';' (the separator — no escaping).  Malformed entries (no
    '=', or an empty key) raise rather than silently becoming `k=''`
    (ADVICE r2/r3 hygiene item; unit-tested in test_edges.py)."""
    out: list[tuple[str, str]] = []
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        if "=" not in kv:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF entry {kv!r} has no '='; "
                "expected 'k=v;k=v' (values may not contain ';')"
            )
        k, _, v = kv.partition("=")
        if not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF entry {kv!r} has an empty key"
            )
        out.append((k.strip(), v.strip()))
    return out


def one_wave_partitions(spark: SparkSession) -> int:
    """Partition count for a stage AQE cannot coalesce: one task wave,
    ``min(spark.sql.shuffle.partitions, defaultParallelism)``, floored
    at 1.  It can only lower the session's count: on 4 cores the batch
    default of 16 becomes 4, on 32 cores it stays 16."""
    return max(
        1,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark.sparkContext.defaultParallelism,
        ),
    )


def get_session(app_name: str = "trip-data-pipeline-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # 16 measured fastest for the sf0.1 bench on 4 cores (vs 8/32);
        # a real cluster deployment sets ~2-3x total cores and lets AQE
        # coalesce down — this value is local-mode-scale only.
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.python.daemon.module", "trip_data_pipeline_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    # Tuning escape hatch: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies
    # additional session confs (used by bench experiments; a cluster
    # deployment would set these in spark-defaults instead).  Applied
    # keys are logged to stderr because they can override the pinned
    # defaults above (e.g. the UTC session timezone the oracle needs).
    applied = []
    for k, v in parse_extra_conf(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")):
        builder = builder.config(k, v)
        applied.append(k)
    if applied:
        print(f"[session] SPARK_GRAFT_EXTRA_CONF applied: {applied}", file=sys.stderr)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
