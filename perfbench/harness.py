"""Measurement plumbing shared by the workloads: the Spark session, the
tracer that times calls into engine layers and counts the Spark jobs and
tasks each call launches, latency statistics and the environment stamp."""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
from dataclasses import dataclass


def spark_session(master: str, local_dir: str):
    """A fresh local session.  ``spark.ui.enabled`` stays off (no port is
    opened); the status store behind ``StatusTracker`` still records every
    job and stage, and the retention limits are raised so a whole run's jobs
    remain resolvable when the trace is summarised."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(master)
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(local_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed set of JIT compiler threads, so that ``tree_cpu_s`` can
            # leave all of their CPU time out (an exited thread's would stay in)
            f"-Xms2g -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={local_dir} -Dderby.system.home={local_dir}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the active Spark context and the JVM PySpark launched for it,
    and wait for the JVM to exit (it exits when the pipe to its stdin
    closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ------------------------------------------------------------------ tracing
@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    group: str | None = None
    sid: int = 0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class Tracer:
    """Records one span per call into an engine layer.

    With ``enabled`` false a span is a no-op, so the untraced run times the
    same calls without the job-group calls into the JVM.  Spans are kept in
    memory and resolved against Spark's status store only in :meth:`finish`,
    after the timed region: the listener bus delivers job events
    asynchronously, so counts read right after an action could miss its
    last stage."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.op_id: int | None = None

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        sp = Span(
            name=name,
            start=time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            op_id=self.op_id,
            sid=next(self._ids),
        )
        sp.group = f"pb-{sp.sid}"
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.spark.sparkContext.setJobGroup(sp.group, name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            parent = self.spans[self._stack[-1]]
            self.spark.sparkContext.setJobGroup(parent.group, parent.name)
        else:
            self.spark.sparkContext.setJobGroup("pb-idle", "idle")

    def finish(self) -> None:
        """Attach job, task and failed-task counts to every span (its own
        job group only; a parent's totals are summed in ``layer_summary``)."""
        if not self.enabled:
            return
        time.sleep(0.5)  # let the listener bus drain the last job events
        st = self.spark.sparkContext.statusTracker()
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(sp.group)
            sp.jobs = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for s in info.stageIds:
                    si = st.getStageInfo(s)
                    if si is not None:
                        sp.tasks += si.numTasks
                        sp.failed_tasks += si.numFailedTasks

    def _children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(self.spans[sp.parent].sid, []).append(sp)
        return kids

    def subtree_total(self, sp: Span, attr: str, kids: dict | None = None) -> int:
        """``attr`` (jobs, tasks, failed_tasks) of a span and its descendants."""
        kids = self._children() if kids is None else kids
        return getattr(sp, attr) + sum(self.subtree_total(c, attr, kids) for c in kids.get(sp.sid, []))

    def layer_summary(self, measured: bool = True) -> dict[str, dict]:
        """Per span name, over the measured operations (spans with an
        operation id) or else over set-up: calls, total time, self time
        (duration minus the part covered by child spans) and the jobs and
        tasks of the span's subtree."""
        kids = self._children()
        out: dict[str, dict] = {}
        for sp in self.spans:
            if (sp.op_id is not None) != measured:
                continue
            dur = sp.end - sp.start
            child = sum(c.end - c.start for c in kids.get(sp.sid, []))
            row = out.setdefault(
                sp.name,
                {"calls": 0, "total_ms": 0.0, "self_ms": 0.0, "jobs": 0, "tasks": 0, "failed_tasks": 0},
            )
            row["calls"] += 1
            row["total_ms"] += dur * 1e3
            row["self_ms"] += (dur - child) * 1e3
            for a in ("jobs", "tasks", "failed_tasks"):
                row[a] += self.subtree_total(sp, a, kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": sp.sid,
                        "name": sp.name,
                        "start": sp.start,
                        "end": sp.end,
                        "parent": None if sp.parent is None else self.spans[sp.parent].sid,
                        "op_id": sp.op_id,
                        "jobs": sp.jobs,
                        "tasks": sp.tasks,
                        "failed_tasks": sp.failed_tasks,
                    }
                    for sp in self.spans
                ],
                f,
            )


class _SpanCtx:
    __slots__ = ("tracer", "name", "sp")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.sp = None

    def __enter__(self):
        if self.tracer.enabled:
            self.sp = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.sp is not None:
            self.tracer._close(self.sp)
        return False


# -------------------------------------------------------------- correctness
def canon(value) -> str:
    """One cell in a form both engines agree on: numbers compare by value
    (Spark prints ``1.0E7`` where DuckDB prints ``10000000.0``), every other
    term by its lexical form."""
    if value is None:
        return ""
    if isinstance(value, (int, float)):
        return f"{float(value):.12g}"
    text = str(value)
    try:
        return f"{float(text):.12g}"
    except ValueError:
        return text


def canon_rows(rows) -> list[tuple]:
    """Order-insensitive multiset form of a result: sorted canonical tuples."""
    return sorted(tuple(canon(v) for v in r) for r in rows)


# --------------------------------------------------------------- statistics
def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


# -------------------------------------------------------------- environment
def cpu_calibration_ms(loops: int = 5) -> float:
    """Median wall time of a fixed single-thread integer loop: a reading
    of how fast this host's CPU ran at the moment of the run."""
    times = []
    for _ in range(loops):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc + i * i) % 1_000_003
        times.append((time.perf_counter() - t0) * 1e3)
    return median(times)


def cpu_ticks() -> list[int] | None:
    """Aggregate CPU tick counters (user .. steal) from /proc/stat, or None
    where the file does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def steal_share(start: list[int] | None, end: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: on a shared host, the noise no run can remove."""
    if start is None or end is None:
        return None
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # HotSpot names, cut to 15 bytes


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name, or None if
    the process or thread ended while it was read."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the HotSpot JIT compiler threads of ``pid`` (0 for a
    process that has none)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
        except OSError:
            continue
        fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        if fields is not None:
            total += int(fields[11]) + int(fields[12])
    return total


def tree_cpu_s(root: int, jit: bool = True) -> float:
    """CPU seconds (user + system, including reaped children) of ``root``
    and every live descendant: the benchmark's Python driver, the JVM it
    launched and the JVM's Python workers.  Time the hypervisor gave to
    other guests is not in it.  With ``jit`` false the JVM's JIT compiler
    threads are left out: their work is the JVM's own warm-up, which goes
    on through the first seconds of operations and varies from run to run
    by more than an operation's cost does."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (fields := _stat_fields(f"/proc/{d}/stat")) is not None:
            procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _t) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += procs.get(pid, (0, 0))[1]
        if not jit and pid != root:
            total -= _jit_ticks(pid)
        stack.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def env_stamp(master: str) -> dict:
    return {
        "nproc": os.cpu_count(),
        "master": master,
        "loadavg_start": os.getloadavg(),
        "cpu_calibration_ms": cpu_calibration_ms(),
    }
