"""Recording at layer boundaries: spans, Spark status-store records,
streaming-listener batch records and engine process counters.

Everything here observes the engine from outside through public
surfaces: job groups and the application status store, the streaming
query listener, and ``/proc`` for the JVM and its Python workers.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from perfbench import stats


class Tracer:
    """In-memory spans: name, start, end, parent and attributes.  Spans
    of one op execution share the op execution's ``trace_id``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str = "", **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "trace_id": trace_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        kids = [(s["start"], s["end"]) for s in self.children(rec)]
        return stats.self_time((rec["start"], rec["end"]), kids)


# ---------------------------------------------------------------- Spark jobs


_DONE_JOB = {"SUCCEEDED", "FAILED"}
_DONE_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_records(spark: SparkSession, group: str, timeout_s: float = 10.0) -> list[dict]:
    """Job and stage records for every job of ``group``, read from the
    status store right after the op (default retention evicts after
    1000 jobs/stages).  Waits until the status listener has finalized
    each job and stage; raises if a job or stage has no record."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + timeout_s
    while True:
        jobs, pending = [], False
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(jid)
            status = jd.status().toString()
            pending |= status not in _DONE_JOB or not jd.completionTime().isDefined()
            stages = []
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError as e:  # NoSuchElementException: evicted or never recorded
                    raise RuntimeError(
                        f"job {jid} of {group}: no status-store data for stage {sid}"
                    ) from e
                st = sd.status().toString()
                pending |= st not in _DONE_STAGE
                stages.append(
                    {
                        "id": sid,
                        "status": st,
                        "tasks": sd.numCompleteTasks() if st == "COMPLETE" else 0,
                        "run_s": sd.executorRunTime() / 1e3,
                        "cpu_s": sd.executorCpuTime() / 1e9,
                        "gc_s": sd.jvmGcTime() / 1e3,
                        "input_rows": sd.inputRecords(),
                        "output_rows": sd.outputRecords(),
                        "shuffle_read_mb": sd.shuffleReadBytes() / 1e6,
                        "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
                        "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6,
                    }
                )
            if not stages:
                raise RuntimeError(f"job {jid} of {group} has no stages in the status store")
            jobs.append(
                {
                    "id": jid,
                    "status": status,
                    "submit": _ms(jd.submissionTime()),
                    "end": _ms(jd.completionTime()),
                    "stages": stages,
                }
            )
        if not pending:
            return jobs
        if time.monotonic() > deadline:
            raise RuntimeError(f"status store did not finalize the jobs of {group}")
        time.sleep(0.005)


# ----------------------------------------------------------------- streaming


class StreamRecorder(StreamingQueryListener):
    """Per-batch records from the streaming query listener.  Micro-batch
    jobs run on the stream thread, outside the caller's job group, so
    streaming numbers come from here.  Query-started events reach driver
    listeners synchronously; progress and termination arrive later on
    the listener bus, so ``drain`` waits for every started query to
    terminate before handing over its batches."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._started: set[str] = set()
        self._terminated: set[str] = set()
        self._batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        rec = {
            "query": str(p.id),
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "add_batch_ms": p.durationMs.get("addBatch", 0),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_mem_mb": sum(o.memoryUsedBytes for o in ops) / 1e6,
        }
        with self._lock:
            self._batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated.add(str(event.id))

    def drain(self, expect_query: bool, timeout_s: float = 30.0) -> list[dict]:
        """Batches of the queries started since the last drain, once all
        of them have terminated.  ``expect_query`` ops must have started
        at least one query."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                done = self._started <= self._terminated
                if done and (self._started or not expect_query):
                    out = self._batches
                    self._batches = []
                    self._started.clear()
                    self._terminated.clear()
                    return out
            if time.monotonic() > deadline:
                raise RuntimeError("streaming listener never saw every query terminate")
            time.sleep(0.005)


# --------------------------------------------------------- engine processes


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, list[bytes]] | None:
    """(command name, the /proc stat fields that follow it), or None if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index(b"(") + 1 : raw.rindex(b")")].decode(errors="replace")
    return comm, raw.rsplit(b")", 1)[1].split()


def is_running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[1][0] != b"Z"  # field 0: state; Z = exited, not reaped


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))):
            kids.setdefault(int(st[1][1]), []).append(int(d))  # field 1: parent pid
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def python_cpu_s(root: int) -> float:
    """CPU seconds of the Python worker processes below ``root`` (the
    pyspark daemon and its forked workers), including reaped workers,
    whose time the daemon's children counters hold."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st and st[0].startswith("python"):
            f = st[1]  # fields from state onward: utime=11, stime=12, cutime=13, cstime=14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Summed peak resident set (``VmHWM``) of the processes below
    ``root``: the JVM and the Python workers alive at the time of the
    call.  The kernel keeps each process's peak, so nothing is sampled."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status", "rb") as f:
                for line in f:
                    if line.startswith(b"VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1e3
