"""Per-op measurement: time registered operators with the noop sink and
record, for each, where the execution went layer by layer.

    python tools/measure.py SF_DIR [op,op,...] [--reps N] [--plans DIR] [--out FILE]

Ops (default: every registered op) run one after another on one
``get_session`` session, built through ``OPS[name].fn`` exactly as
perfbench builds them.  Per op: with ``--plans``, ``explain("formatted")``
goes to ``DIR/<op>.txt`` first, its session counters replaced
(``normalize_plan``); then one warm noop write, then N timed
build + noop-write reps, each under its own job group.  Build and
execute seconds are the min and the spread (max - min) over the reps.
The last rep's job group gives the layer record, read through
perfbench's tracer (status store, streaming listener, ``/proc``):
jobs, completed stages, tasks, single-task stages, task run/CPU/GC
seconds, shuffle read/write and spill MB, Python-worker CPU seconds,
and the streaming batches with their summed state-store commit time
and state rows (streaming ops drain while they are built, so a rep
covers its drain).  ``compiles`` lists, in rep order, the number of
classes Janino compiled during each timed rep (``CodegenMetrics``'
compile count, a JVM-wide counter): after the warm write an op's
generated code is cached, so an op that still compiles there makes
different code on every execution and pays a compile floor at any
cache size; the per-rep list shows whether that count falls, holds
or swings from rep to rep.  An op
that raises is recorded as ``{"err": ...}`` and the loop moves on.

Prints (or writes to ``--out``) one JSON object: ``sf_dir``, ``reps``,
``cores``, ``pyspark``, ``wall_s`` and ``ops`` = {op: record}.  Exit
status 1 if any op recorded ``err``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# The status store keeps 1000 jobs and 1000 stages by default and
# evicts skipped stages first, however recent (they sort by a missing
# completion time), so a registry sweep in one session would lose the
# skipped stages of later ops and perfbench's job_records would refuse
# them.  Retention is bookkeeping only; execution does not change.
RETAIN_CONF = "spark.ui.retainedJobs=100000;spark.ui.retainedStages=100000"
_STAGE_SUMS = ("run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")

# Session counters and random names that explain() prints: they follow
# what ran earlier in the session (or chance: the bucketed-join tables'
# uuid suffix, common.scratch_dir's mkdtemp names), not the plan's
# shape, so --plans replaces them and two trees' captures can be diffed
# file by file.
# One residue stays: with two or more distinct aggregates
# (agg_multi_distinct, profile_table, text_stem_naive) the Expand
# projection order follows expression ids, so those plans match only
# between fresh sessions.
_PLAN_NOISE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\] at (\w+) at \S+:\d+"), r"RDD[N] at \1 at CALLSITE"),
    (re.compile(r"\blambda ([xyz])_\d+"), r"lambda \1_N"),
    (re.compile(r"\b_common_expr_\d+\b"), "_common_expr_N"),
    (re.compile(r"\b(orders|customer)_b_[0-9a-f]{8}\b"), r"\1_b_SUFFIX"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/([\w.-]*?)[a-z0-9_]{8}(?!\w)"), r"TMP/\1XXXXXXXX"),
)


def normalize_plan(text: str) -> str:
    """``text`` with each ``_PLAN_NOISE`` pattern replaced."""
    for pattern, repl in _PLAN_NOISE:
        text = pattern.sub(repl, text)
    return text


def _layers(jobs: list[dict], batches: list[dict]) -> dict:
    stages = [s for j in jobs for s in j["stages"] if s["status"] == "COMPLETE"]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "single_task_stages": sum(s["tasks"] == 1 for s in stages),
        **{k: sum(s[k] for s in stages) for k in _STAGE_SUMS},
        "batches": len(batches),
        "state_commit_ms": sum(b["state_commit_ms"] for b in batches),
        "state_rows": sum(b["state_rows"] for b in batches),
    }


def _measure_op(spark, sf_dir: str, name: str, reps: int, plans: str | None, listener) -> dict:
    from perfbench import trace
    from trip_data_pipeline_spark.registry import OPS

    fn = OPS[name].fn
    sc = spark.sparkContext
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    if plans:
        df = fn(spark, sf_dir)
        with open(os.path.join(plans, f"{name}.txt"), "w") as f:
            f.write(f"# {name} — explain('formatted') @ {sf_dir}\n")
            plan = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            f.write(normalize_plan(plan))
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    build, execute, compiled = [], [], []
    for rep in range(reps):
        group = f"measure:{name}:{rep}"
        listener.drain(False)  # keep only the last rep's batches
        sc.setJobGroup(group, name)
        py0 = trace.python_cpu_s(os.getpid())
        c0 = compiles.getCount()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        compiled.append(compiles.getCount() - c0)
        build.append(t1 - t0)
        execute.append(t2 - t1)
    python_cpu_s = trace.python_cpu_s(os.getpid()) - py0
    return {
        "build_s": min(build),
        "build_spread_s": max(build) - min(build),
        "execute_s": min(execute),
        "execute_spread_s": max(execute) - min(execute),
        **_layers(trace.job_records(spark, group), listener.drain(False)),
        "python_cpu_s": python_cpu_s,
        "compiles": compiled,
    }


def measure(
    spark, sf_dir: str, names: list[str] | None = None, reps: int = 2, plans: str | None = None
) -> dict[str, dict]:
    """{op: record} for ``names`` (default: every registered op) on
    ``spark`` (see the module docstring); floats are rounded to 3 places."""
    from perfbench.trace import StreamRecorder
    from trip_data_pipeline_spark.registry import queries

    registered = queries()  # imports and registers every op
    listener = StreamRecorder()
    spark.streams.addListener(listener)
    out: dict[str, dict] = {}
    try:
        for name in registered if names is None else names:
            try:
                rec = _measure_op(spark, sf_dir, name, reps, plans, listener)
                out[name] = {k: round(v, 3) if isinstance(v, float) else v for k, v in rec.items()}
            except Exception as e:  # one op's failure must not stop the loop
                traceback.print_exc()
                out[name] = {"err": f"{type(e).__name__}: {e}"[:300]}
            finally:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            print(f"{name}: {json.dumps(out[name])}", file=sys.stderr, flush=True)
    finally:
        spark.streams.removeListener(listener)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        description="Time registered operators with the noop sink and record "
        "jobs, stages, tasks, shuffle, Python-worker CPU and streaming batches per op."
    )
    p.add_argument("sf_dir", metavar="SF_DIR", help="fixture directory of parquet tables")
    p.add_argument("ops", nargs="?", default="", help="comma-separated op names (default: all)")
    p.add_argument("--reps", type=int, default=2, help="timed reps per op (default: 2)")
    p.add_argument("--plans", metavar="DIR", help="write explain('formatted') to DIR/<op>.txt")
    p.add_argument("--out", metavar="FILE", help="write the JSON record here instead of stdout")
    args = p.parse_args(argv)
    if args.reps < 1:
        p.error("--reps must be at least 1")

    import pyspark

    from trip_data_pipeline_spark import get_session

    names = [n for n in args.ops.split(",") if n] or None
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = f"{RETAIN_CONF};{extra}" if extra else RETAIN_CONF
    spark = get_session("measure")
    t0 = time.perf_counter()
    ops = measure(spark, args.sf_dir, names, args.reps, args.plans)
    payload = {
        "sf_dir": args.sf_dir,
        "reps": args.reps,
        "cores": spark.sparkContext.defaultParallelism,
        "pyspark": pyspark.__version__,
        "wall_s": round(time.perf_counter() - t0, 1),
        "ops": ops,
    }
    text = json.dumps(payload, indent=1, sort_keys=True) + "\n"
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)
    errs = sorted(n for n, r in ops.items() if "err" in r)
    print(f"{len(ops)} ops, {len(errs)} err{': ' + ', '.join(errs) if errs else ''}", file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
