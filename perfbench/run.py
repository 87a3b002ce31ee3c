"""Layered benchmark of the engine, run from outside through its public
entry points: ``get_session``, ``io.load``, ``registry.OPS[name].fn``, the
DataFrame write to a ``noop`` sink, and Spark's status-store and
streaming-listener APIs.

    python3 perfbench/run.py --workload headline-sf0.1 --seed 1 --seconds 15 --trace 0

A closed loop with one client: one driver process submits one op at a
time on ``local[nproc]``; DuckDB, the reference engine, is pinned to the
same thread count.  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (see perfbench/README.md).  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

HEADLINE = (
    "agg_pricing_summary",
    "join_star_5way",
    "join_theta_band",
    "win_topk_per_group",
    "agg_grouping_sets",
    "sessionize_batch",
    "text_term_freq",
    "sim_cosine_pairwise_topk",
    "dedup_exact_hash",
    "limit_topk",
)


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    warmup: int  # untimed warm passes after the cold pass, while the JIT settles
    streaming: frozenset[str] = frozenset()  # ops that drain a streaming query


STREAM_OPS = frozenset({"stream_tumbling_count", "stream_foreachbatch_sink"})

WORKLOADS = {
    # Floor-bound: single-file tables, so planning, job scheduling and the
    # registry dominate and executor work is small.
    "headline-sf0.1": Workload(HEADLINE, warmup=2),
    # The two boundaries the headline plans never cross.  Python workers:
    # Arrow and pandas UDFs, a grouped map, a UDTF and the gap-and-cap
    # sessionizer, where the Python boundary does most of the work.  The
    # write path: streaming drains (state-store load/commit and checkpoint
    # writes of a window aggregation, foreachBatch) and file sinks
    # (partitioned commit, a text round-trip).
    "boundary-sf0.1": Workload(
        (
            "udf_map_in_arrow",
            "udaf_pandas_grouped_agg",
            "udtf_grouped_map_normalize",
            "sessionize_gap_and_cap",
            *sorted(STREAM_OPS),
            "sink_parquet_partitioned",
            "sink_csv_roundtrip",
        ),
        warmup=0,
        streaming=STREAM_OPS,
    ),
}

# Settings that change what the engine does; a run refuses to start when
# any is set, so every run measures the session factory's defaults.
ENV_MUST_BE_UNSET = (
    "SPARK_GRAFT_EXTRA_CONF",
    "STREAM_MAX_FILES_PER_TRIGGER",
    "STREAM_SINK_DIR",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_DRIVER_MEM",
)
MIN_PASSES = 2  # medians and the jitter ratio need at least two samples
DUCK_SHARE = 0.2  # share of --seconds DuckDB passes may use beyond MIN_PASSES


class BenchError(Exception):
    """The run cannot start: wrong tree, environment or arguments."""


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Pin the engine's environment and keep its scratch files in ``work``."""
    bad = [k for k in ENV_MUST_BE_UNSET if k in os.environ]
    if bad:
        raise BenchError(f"unset {', '.join(bad)}: the benchmark measures the defaults")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus not in (None, str(_nproc())):
        raise BenchError(f"SPARK_GRAFT_CPUS={cpus}, but the benchmark pins it to nproc={_nproc()}")
    for d in ("tmp", "spark-local", "cwd"):
        shutil.rmtree(work / d, ignore_errors=True)
        (work / d).mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(_nproc()),
        # Python workers import the engine from the tree under test only.
        PYTHONPATH=str(ROOT),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        # No perf-data file under /tmp: the run writes only inside the checkout.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    )
    os.chdir(work / "cwd")


class Run:
    """One benchmark run: set-up, checked cold pass, timed warm passes."""

    def __init__(self, name: str, seed: int, seconds: float, traced: bool, data: str):
        from perfbench.trace import Tracer

        self.name, self.wl = name, WORKLOADS[name]
        self.seed, self.seconds, self.traced, self.data = seed, seconds, traced, data
        self.tracer = Tracer()
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.correct = True
        self.setup: dict[str, float] = {}
        self.spark_lat: dict[str, list[float]] = {n: [] for n in self.wl.ops}
        self.duck_lat: dict[str, list[float]] = {n: [] for n in self.wl.ops}
        self.passes: list[dict] = []
        self.last_df: dict[str, object] = {}

    # ------------------------------------------------------------ set-up

    def start(self) -> None:
        """Engine import + session, cold io.load of every table, one cold
        execution of every op; each op's output is checked against its
        DuckDB oracle (or for rows, if it has none) outside the timer."""
        with self.tracer.span("session.start") as s:
            from trip_data_pipeline_spark import get_session, io
            from trip_data_pipeline_spark.registry import OPS, queries

            queries()
            self.spark = get_session("perfbench")
        self.ops = OPS
        self.setup["session.start_s"] = s["end"] - s["start"]
        from perfbench.trace import StreamRecorder

        self.listener = None
        if self.traced:
            self.listener = StreamRecorder()
            self.spark.streams.addListener(self.listener)
        load_s = 0.0
        for t in io.TABLES:
            with self.tracer.span("io.load", table=t) as s:
                io.load(self.spark, self.data, t)
            load_s += s["end"] - s["start"]
        self.setup["io.load_s"] = load_s

        from tests import oracle

        self.duck = oracle.duck_connect(self.data)
        self.duck.execute(f"SET threads = {_nproc()}")
        cold_s = 0.0
        for name in self.rng.sample(self.wl.ops, len(self.wl.ops)):
            self.attempted += 1
            try:
                with self.tracer.span("cold", op=name) as s:
                    cols, rows = oracle.spark_result(self.ops[name].fn(self.spark, self.data))
                cold_s += s["end"] - s["start"]
                self._check(name, cols, rows, oracle)
            except Exception as e:  # one op's failure must not stop the run
                self._fail(name, "cold", e)
            if self.listener:
                self.listener.drain(name in self.wl.streaming)
        self.setup["cold_s"] = cold_s
        self.setup["setup_s"] = self.setup["session.start_s"] + load_s + cold_s
        self._assert_worker_tree()

    def _check(self, name: str, cols, rows, oracle) -> None:
        sql = self.ops[name].oracle
        if sql is None:
            if not rows:
                raise AssertionError(f"{name}: rows-only op returned no rows")
            return
        d_cols, d_rows = oracle.duck_result(self.duck, sql)
        if sorted(cols) != sorted(d_cols):
            raise AssertionError(f"{name}: columns {sorted(cols)} != oracle {sorted(d_cols)}")
        if oracle.canon_rows(cols, rows) != oracle.canon_rows(d_cols, d_rows):
            raise AssertionError(f"{name}: {len(rows)} rows differ from the oracle's {len(d_rows)}")

    def _fail(self, name: str, phase: str, e: Exception) -> None:
        self.failed += 1
        self.correct = False
        print(f"FAIL {name} ({phase}): {type(e).__name__}: {str(e)[:500]}", file=sys.stderr)

    def _assert_worker_tree(self) -> None:
        """A Python worker must import the engine from the tree under test."""
        path = (
            self.spark.sparkContext.parallelize([0], 1)
            .map(lambda _: __import__("trip_data_pipeline_spark").__file__)
            .collect()[0]
        )
        if not Path(path).resolve().is_relative_to(ROOT):
            raise BenchError(f"Python workers import the engine from {path}, not from {ROOT}")

    # -------------------------------------------------------- measurement

    def measure(self) -> None:
        """Warm passes in a seeded op order until ``seconds`` have passed
        (at least MIN_PASSES).  With tracing, passes alternate untraced and
        traced, so the overhead ratio compares neighbours.  A warm DuckDB
        pass follows each of the first MIN_PASSES Spark passes, and later
        ones while DuckDB has used less than DUCK_SHARE of ``seconds``; the
        cold DuckDB run of set-up's check is never a sample."""
        for _ in range(self.wl.warmup):
            self._spark_pass(False)
        t_end = time.perf_counter() + self.seconds
        duck_budget = DUCK_SHARE * self.seconds
        duck_passes = 0
        while len(self.passes) < MIN_PASSES or time.perf_counter() < t_end:
            traced = self.traced and len(self.passes) % 2 == 1
            rec = self._spark_pass(traced)
            self.passes.append(rec)
            if not traced:
                for op in rec["ops"]:
                    self.spark_lat[op["op"]].append(op["wall_s"])
            if duck_passes < MIN_PASSES or duck_budget > 0:
                duck_budget -= self._duck_pass()
                duck_passes += 1

    def _spark_pass(self, traced: bool) -> dict:
        from perfbench import trace

        order = self.rng.sample(self.wl.ops, len(self.wl.ops))
        rec = {"traced": traced, "ops": []}
        with self.tracer.span("pass", traced=traced) as ps:
            for name in order:
                self.attempted += 1
                tid = f"p{len(self.passes)}-{name}"
                op = {"op": name}
                if traced:
                    self.listener.drain(False)  # drop batches of untraced passes
                    self.spark.sparkContext.setJobGroup(tid, name)
                    py0 = trace.python_cpu_s(os.getpid())
                try:
                    with self.tracer.span("op", tid, op=name) as s:
                        with self.tracer.span("registry.build", tid) as b:
                            df = self.ops[name].fn(self.spark, self.data)
                        with self.tracer.span("operators.execute", tid) as x:
                            x["epoch"] = time.time()
                            df.write.format("noop").mode("overwrite").save()
                            x["epoch_end"] = time.time()
                except Exception as e:  # one op's failure must not stop the run
                    self._fail(name, f"pass {len(self.passes)}", e)
                    if traced:
                        self.listener.drain(False)
                    continue
                finally:
                    if traced:
                        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                op["wall_s"] = s["end"] - s["start"]
                op["build_s"] = b["end"] - b["start"]
                op["exec_s"] = x["end"] - x["start"]
                op["exec_window"] = (x["epoch"], x["epoch_end"])
                # A memoized plan comes back as the very same DataFrame.
                op["memo_hit"] = df is self.last_df.get(name)
                self.last_df[name] = df
                if traced:
                    op["python_cpu_s"] = trace.python_cpu_s(os.getpid()) - py0
                    op["jobs"] = trace.job_records(self.spark, tid)
                    op["batches"] = self.listener.drain(name in self.wl.streaming)
                rec["ops"].append(op)
        rec["wall_s"] = ps["end"] - ps["start"]
        rec["span"] = ps["id"]
        return rec

    def _duck_pass(self) -> float:
        t0 = time.perf_counter()
        for name in self.wl.ops:
            sql = self.ops[name].oracle
            if sql is not None:
                t = time.perf_counter()
                self.duck.execute(sql).fetchall()
                self.duck_lat[name].append(time.perf_counter() - t)
        return time.perf_counter() - t0

    # ------------------------------------------------------------ teardown

    def close(self) -> None:
        """Stop the JVM and every Python worker, and wait for each to end."""
        from perfbench import trace

        if hasattr(self, "duck"):
            self.duck.close()
        sc = self.spark.sparkContext
        gateway, jvm = sc._gateway, sc._gateway.proc
        engine = trace.descendants(os.getpid())
        self.peak_rss_mb = trace.peak_rss_mb(os.getpid())
        self.spark.stop()
        gateway.shutdown()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        deadline = time.monotonic() + 30
        for pid in engine:
            while trace.is_running(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)


# ------------------------------------------------------------------ metrics


def end_to_end(run: Run) -> tuple[dict, dict]:
    """The user-facing metrics (``--trace 0``) and extra report fields."""
    from perfbench import stats

    walls = [p["wall_s"] for p in run.passes if not p["traced"]]
    q1, med, q3 = stats.quartiles(walls)
    lat = {n: v for n, v in run.spark_lat.items() if v}
    duck = {n: v for n, v in run.duck_lat.items() if v}
    m = {
        "setup_s": (run.setup["setup_s"], "s"),
        "pass_s": (med, "s"),
        "op_geomean_s": (stats.op_geomean(lat), "s"),
        "op_jitter_p90": (stats.jitter_p90(lat), "ratio"),
        "vs_duckdb": (stats.vs_duckdb(lat, duck), "ratio"),
    }
    extra = {
        "fail_ratio": (stats.fail_ratio(run.failed, run.attempted), "ratio"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
        "pass_s.q1": (q1, "s"),
        "pass_s.q3": (q3, "s"),
        "pass_s.n": (len(walls), "count"),
    }
    return m, extra


def per_layer(run: Run) -> tuple[dict, dict]:
    """Per-layer metrics of the traced passes (``--trace 1``), as means
    per pass, and the per-op breakdown for the trace file."""
    from perfbench import stats

    traced = [p for p in run.passes if p["traced"]]
    if not traced:
        raise BenchError("no traced pass ran")
    n = len(traced)
    cores = _nproc()
    tot = dict.fromkeys(
        "build_s plan_s gap_s jobs stages tasks single run_s cpu_s gc_s in_rows out_rows "
        "shr_mb shw_mb spill_mb py_s wall_s hits builds".split(),
        0.0,
    )
    batches: list[dict] = []
    breakdown: dict[str, dict] = {}
    for p in traced:
        for op in p["ops"]:
            tot["hits"] += op["memo_hit"]
            tot["builds"] += 1
            t0, t1 = op["exec_window"]
            jobs = op["jobs"]
            # job times are whole milliseconds
            in_exec = [(j["submit"], j["end"]) for j in jobs if j["submit"] >= t0 - 1e-3]
            first = min((s for s, _ in in_exec), default=t1)
            stages = [s for j in jobs for s in j["stages"] if s["status"] == "COMPLETE"]
            row = {
                "build_s": op["build_s"],
                "exec_s": op["exec_s"],
                "plan_s": first - t0,
                "gap_s": (t1 - t0) - stats.union_length((max(a, t0), min(b, t1)) for a, b in in_exec),
                "jobs": len(jobs),
                "stages": len(stages),
                "tasks": sum(s["tasks"] for s in stages),
                "single": sum(s["tasks"] == 1 for s in stages),
                "run_s": sum(s["run_s"] for s in stages),
                "cpu_s": sum(s["cpu_s"] for s in stages),
                "gc_s": sum(s["gc_s"] for s in stages),
                "in_rows": sum(s["input_rows"] for s in stages),
                "out_rows": sum(s["output_rows"] for s in stages),
                "shr_mb": sum(s["shuffle_read_mb"] for s in stages),
                "shw_mb": sum(s["shuffle_write_mb"] for s in stages),
                "spill_mb": sum(s["spill_mb"] for s in stages),
                "py_s": op["python_cpu_s"],
                "wall_s": op["wall_s"],
                "batches": len(op["batches"]),
            }
            for k in tot:
                if k in row:
                    tot[k] += row[k]
            batches.extend(op["batches"])
            agg = breakdown.setdefault(op["op"], {})
            for k, v in row.items():
                agg[k] = agg.get(k, 0.0) + v / n
    trig = [b["trigger_ms"] for b in batches] or [0.0]
    untraced = [p["wall_s"] for p in run.passes if not p["traced"]]
    spans = run.tracer.spans
    uncovered = [run.tracer.self_time(spans[p["span"]]) for p in traced]
    duck_pass = sum(statistics.median(v) for v in run.duck_lat.values() if v)

    def per(k: str) -> float:  # mean per traced pass
        return tot[k] / n

    m = {
        "session.start_s": (run.setup["session.start_s"], "s"),
        "io.load_s": (run.setup["io.load_s"], "s"),
        "io.input_rows": (per("in_rows"), "count"),
        "io.output_rows": (per("out_rows"), "count"),
        "registry.build_s": (per("build_s"), "s"),
        "registry.memo_hit_ratio": (tot["hits"] / tot["builds"], "ratio"),
        "operators.plan_s": (per("plan_s"), "s"),
        "operators.driver_gap_s": (per("gap_s"), "s"),
        "operators.jobs": (per("jobs"), "count"),
        "operators.stages": (per("stages"), "count"),
        "operators.tasks": (per("tasks"), "count"),
        "operators.single_task_stages": (per("single"), "count"),
        "operators.core_util": (tot["run_s"] / (tot["wall_s"] * cores), "ratio"),
        "operators.task_run_s": (per("run_s"), "s"),
        "operators.task_cpu_s": (per("cpu_s"), "s"),
        "operators.gc_s": (per("gc_s"), "s"),
        "operators.shuffle_read_mb": (per("shr_mb"), "MB"),
        "operators.shuffle_write_mb": (per("shw_mb"), "MB"),
        "operators.spill_mb": (per("spill_mb"), "MB"),
        "operators.peak_rss_mb": (run.peak_rss_mb, "MB"),
        "operators.python_cpu_s": (per("py_s"), "s"),
        "operators.python_share": (
            tot["py_s"] / (tot["py_s"] + tot["cpu_s"]) if tot["py_s"] + tot["cpu_s"] else 0.0,
            "ratio",
        ),
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.useful_batch_ratio": (
            sum(b["input_rows"] > 0 for b in batches) / len(batches) if batches else 0.0,
            "ratio",
        ),
        "streaming.batch_ms_p50": (stats.percentile(trig, 50), "ms"),
        "streaming.batch_ms_p90": (stats.percentile(trig, 90), "ms"),
        "streaming.add_batch_ms": (sum(b["add_batch_ms"] for b in batches) / n, "ms"),
        "streaming.state_commit_ms": (sum(b["state_commit_ms"] for b in batches) / n, "ms"),
        "streaming.state_rows": (sum(b["state_rows"] for b in batches) / n, "count"),
        "streaming.state_mem_mb": (max((b["state_mem_mb"] for b in batches), default=0.0), "MB"),
        "duckdb.pass_s": (duck_pass, "s"),
        "trace.overhead_ratio": (
            statistics.median(p["wall_s"] for p in traced) / statistics.median(untraced),
            "ratio",
        ),
        "trace.uncovered_s": (statistics.median(uncovered), "s"),
    }
    return m, breakdown


def write_trace(run: Run, path: Path, breakdown: dict) -> None:
    doc = {
        "workload": run.name,
        "seed": run.seed,
        "setup": run.setup,
        "per_op": breakdown,
        "passes": run.passes,
        "spans": run.tracer.spans,
    }
    path.write_text(json.dumps(doc, indent=1, default=str))


# --------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Layered engine benchmark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    for f in ("trip_data_pipeline_spark/__init__.py", "tests/oracle.py"):
        if not (ROOT / f).is_file():
            print(f"error: {ROOT / f} is missing; run from a full checkout", file=sys.stderr)
            return 2

    from perfbench import gen

    work = ROOT / ".bench_build" / "perfbench"
    data = work / "data"
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace), str(data))
    try:
        prepare_env(work)
        layout = gen.ensure_layout(str(data))
        run.start()
        run.measure()
    except BenchError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    finally:
        if hasattr(run, "spark"):
            run.close()

    if a.trace:
        metrics, breakdown = per_layer(run)
        tpath = work / f"trace-{a.workload}-{a.seed}.json"
        write_trace(run, tpath, breakdown)
        report = {}
        print(f"trace: {tpath}")
    else:
        metrics, report = end_to_end(run)
    made = f"generated in {layout['gen_s']:.2f} s" if layout["gen_s"] else "reused"
    print(f"workload {a.workload} seed {a.seed}: {layout['bytes'] / 1e6:.1f} MB input {made}")
    for k, (v, unit) in (metrics | report).items():
        print(f"{k:32s} {v:14.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": run.correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
