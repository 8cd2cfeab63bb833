"""Shared plumbing for the engine benchmark: run directory and
environment, the Spark session, load stamps, memory, percentiles,
traced call durations, and Spark's own status store read back after a
run.

Everything here drives the engine from outside. Layer figures come from
timing calls into the package and from what Spark already records
(status store, SQL executions, ``StreamingQueryProgress``)."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "kafka_streams_dexcom_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over this machine's CPUs (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def now_ms() -> float:
    return time.time() * 1000.0


def median(values) -> float:
    return float(statistics.median(values))


class RunDir:
    """A scratch directory inside the checkout for one benchmark run.

    Every temp file the run, Spark, its Python workers and DuckDB make
    lands here (TMPDIR, SPARK_LOCAL_DIRS, java.io.tmpdir), and the whole
    tree is removed on close."""

    def __init__(self, workload: str, seed: int) -> None:
        base = Path(__file__).resolve().parent / ".work"
        self.path = base / f"{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = self.path / "tmp"
        self.local = self.path / "spark-local"
        for p in (self.tmp, self.local):
            p.mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.local)
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        # Spark's Python workers import the package from the checkout
        # root; without this, queries with Python UDFs fail in workers.
        paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))

    def sub(self, name: str) -> str:
        return str(self.path / name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(run: RunDir, cores: int, driver_memory: str = "3g"):
    """The package's own session builder on ``local[cores]``, with
    every scratch path kept inside the run directory and the status
    store sized to keep every job, stage and SQL execution of a run."""
    from kafka_streams_dexcom_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": driver_memory,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": str(run.local),
            "spark.sql.warehouse.dir": run.sub("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python driver,
    from the kernel's high-water marks."""
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


@dataclass
class Tracer:
    """Durations (ms) of calls into the engine's layers, by name. Off,
    it records nothing."""

    enabled: bool
    _ms: dict[str, list[float]] = field(default_factory=dict)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._ms.setdefault(name, []).append((time.perf_counter() - t0) * 1000.0)

    def durations(self, name: str) -> list[float]:
        return self._ms.get(name, [])


def _opt_ms(opt) -> float | None:
    """Scala Option[java.util.Date] -> epoch ms."""
    return float(opt.get().getTime()) if opt.isDefined() else None


@dataclass
class StageRow:
    submitted_ms: float
    tasks: int
    run_ms: float
    shuffle_write_b: int
    spill_b: int


def spark_activity(spark):
    """Jobs, stages and SQL executions Spark recorded this run:
    ``(jobs, stages, sql)`` with jobs as ``(submit_ms, end_ms)``,
    stages as :class:`StageRow` and SQL executions as submit ms."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        s, e = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if s is not None:
            jobs.append((s, e if e is not None else s))
    stages = []
    gw = spark.sparkContext._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    it = store.stageList(None, False, False, no_quantiles, None).iterator()
    while it.hasNext():
        st = it.next()
        s = _opt_ms(st.submissionTime())
        if s is None:
            continue
        stages.append(
            StageRow(
                s,
                int(st.numTasks()),
                float(st.executorRunTime()),
                int(st.shuffleWriteBytes()),
                int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
            )
        )
    sql = []
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        sql.append(float(it.next().submissionTime()))
    return jobs, stages, sql


def _covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def per_op_spark(spark, ops: list[tuple[float, float]]) -> dict[str, float]:
    """Medians over operations (each a ``(start_ms, end_ms)`` window) of
    what Spark did inside them: jobs, stages, tasks, task run time,
    shuffle written, SQL executions, and the share of the operation's
    wall time that no Spark job covered (driver-side fixed cost:
    planning, Python, scheduling gaps)."""
    jobs, stages, sql = spark_activity(spark)
    rows: dict[str, list[float]] = {k: [] for k in (
        "jobs", "stages", "tasks", "task_run_ms", "shuffle_write_mb",
        "spill_mb", "sql_executions", "driver_ms", "jobs_ms", "wall_ms")}
    for lo, hi in ops:
        inside = [st for st in stages if lo <= st.submitted_ms <= hi]
        j_in = [(a, b) for a, b in jobs if lo <= a <= hi]
        covered = _covered_ms(j_in, lo, hi)
        rows["jobs"].append(len(j_in))
        rows["stages"].append(len(inside))
        rows["tasks"].append(sum(s.tasks for s in inside))
        rows["task_run_ms"].append(sum(s.run_ms for s in inside))
        rows["shuffle_write_mb"].append(sum(s.shuffle_write_b for s in inside) / 2**20)
        rows["spill_mb"].append(sum(s.spill_b for s in inside) / 2**20)
        rows["sql_executions"].append(sum(1 for t in sql if lo <= t <= hi))
        rows["jobs_ms"].append(covered)
        rows["driver_ms"].append((hi - lo) - covered)
        rows["wall_ms"].append(hi - lo)
    return {k: median(v) for k, v in rows.items() if v}


def plan_phases_ms(df) -> float:
    """Catalyst analysis + optimization + planning ms of ``df``'s own
    query execution, from its phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.valuesIterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next().durationMs())
    return total


PHASE_NAMES = {"triggerExecution": "trigger", "addBatch": "add_batch", "latestOffset": "latest_offset",
               "queryPlanning": "query_planning", "walCommit": "wal_commit", "commitOffsets": "commit_offsets"}


def put_progress(res, prefix: str, progress: list) -> None:
    """p50 per micro-batch of each ``durationMs`` phase Spark reports,
    plus batch count and rows per batch, from ``recentProgress``. Only
    batches that read rows count."""
    busy = [p for p in progress if p["numInputRows"] > 0]
    for ph, name in PHASE_NAMES.items():
        vals = [p["durationMs"][ph] for p in busy if ph in p["durationMs"]]
        if vals:
            res.put(f"{prefix}streaming.{name}_ms", median(vals), "ms")
    res.put(f"{prefix}streaming.batches", len(busy), "count")
    if busy:
        res.put(f"{prefix}streaming.rows_per_batch", median([p["numInputRows"] for p in busy]), "count")


def progress_windows(progress: list) -> list[tuple[float, float, int]]:
    """``(start_ms, end_ms, rows)`` of every micro-batch that read rows."""
    from datetime import datetime

    out = []
    for p in progress:
        if p["numInputRows"] <= 0:
            continue
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000
        out.append((start, start + p["durationMs"]["triggerExecution"], int(p["numInputRows"])))
    return out


@dataclass
class Result:
    """What one run reports.

    ``e2e`` holds the end-to-end metrics every workload reports under
    the same names; ``named`` holds the workload's own metrics under
    the names NOTES.md uses (``egv_latency_p50_ms``, ``backfill_eps``,
    ``streaming.trigger_ms`` ...); ``stamps`` holds the load and
    version stamps; ``ops`` the ``(start_ms, end_ms)`` window of every
    timed operation."""

    attempted: int = 0
    failed: int = 0
    checks: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    stamps: dict = field(default_factory=dict)
    ops: list[tuple[float, float]] = field(default_factory=list)
    setup_done_ms: float = 0.0
    setup_excluded_s: float = 0.0
    marks: dict[str, float] = field(default_factory=dict)

    def mark(self, name: str) -> None:
        """Note when a phase of the run ended (wall-clock ms)."""
        self.marks[name] = now_ms()

    def put(self, name: str, value: float, unit: str) -> None:
        self.named[name] = (float(value), unit)

    def fail(self, what: str, ops: int = 1) -> None:
        self.failed += ops
        self.checks.append(what)


@dataclass
class Ctx:
    """One run: its session, scratch directory, seed, measured seconds,
    tracer and result. ``tiny`` selects the smoke test's sizes."""

    spark: object
    run: RunDir
    seed: int
    seconds: float
    tracer: Tracer
    res: Result
    tiny: bool = False

    def size(self, full, tiny):
        return tiny if self.tiny else full

    def setup_done(self) -> None:
        """Mark the end of set-up: the next operation is timed."""
        self.res.setup_done_ms = now_ms()
        self.res.mark("setup")

    @contextmanager
    def inputs(self):
        """Input generation: its time is left out of set-up time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.res.setup_excluded_s += time.perf_counter() - t0
