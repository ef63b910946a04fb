"""The benchmark's Spark session, op clock and trace readers.

The session config is pinned here and nowhere else: ``local[k]`` with
k <= nproc, no console progress bar, fixed shuffle partitions and fixed
driver memory, with every scratch path inside the run directory.
"""

from __future__ import annotations

import json
import os
import re
import resource
import statistics
import time
from dataclasses import dataclass, field

SLOTS = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def start_session(run_dir: str, event_log_dir: str | None = None):
    """A fresh SparkSession. With ``event_log_dir`` the session writes
    the local JSON event log the traced run reads back."""
    from pyspark.sql import SparkSession

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    # read by the JVMs spark-submit starts; SPARK_LOCAL_DIRS would
    # otherwise override spark.local.dir, and -XX:-UsePerfData keeps the
    # JVMs from writing hsperfdata files outside the run directory
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    b = (
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "spark-warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        # one uncompressed JSON-lines file, readable without extra codecs
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    else:
        b = b.config("spark.eventLog.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb() -> float | None:
    """Peak resident set of the driver JVM (VmHWM), if it is running."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return None
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """Running, i.e. present and not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    and the Python workers it started have exited, so the run leaves no
    process behind."""
    import signal
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in workers:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


class EventLogSwitch:
    """Detaches and re-attaches the session's event-log listener, so one
    session can interleave untraced and traced ops. Events of detached
    periods are simply not logged; detaching waits until the queued
    events are written."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._logger = sc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on and not self.on:
            self._bus.addToEventLogQueue(self._logger)
        elif self.on and not on:
            self._bus.removeListener(self._logger)
        self.on = on


# -- op clock ----------------------------------------------------------


@dataclass
class OpRecord:
    label: str  # e.g. "serve:bm25:17"
    start: float  # wall clock (time.time), to match event-log stamps
    seconds: float
    error: str | None = None  # set when the op raised


@dataclass
class OpClock:
    """Runs one op at a time under its own job group and records its
    wall window. Each label is used once, so per-group job counts
    never accumulate across reuse of a name."""

    spark: object
    records: list[OpRecord] = field(default_factory=list)

    def run(self, label: str, fn):
        sc = self.spark.sparkContext
        sc.setJobGroup(label, label)
        start = time.time()
        t0 = time.perf_counter()
        try:
            out = fn()
            ok, err = True, None
        except Exception as e:  # an op that fails is counted, not fatal
            out, ok, err = None, False, f"{type(e).__name__}: {e}"[:300]
        dt = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        self.records.append(OpRecord(label, start, dt, err))
        return out, dt, ok


# -- plan shape --------------------------------------------------------


def plan_counters(df) -> dict:
    """Exact plan-shape counts from the physical plan before execution:
    parquet scans, non-reused exchanges and Python-eval / MapInArrow
    nodes. Same node names as ``bench_measure._plan_counters``, but each
    node is counted once, from the numbered details section of the
    "formatted" explain (the tree above it names every node again)."""
    txt = df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )

    def nodes(pattern: str) -> int:
        return len(re.findall(rf"^\(\d+\) (?:{pattern})\b", txt, re.M))

    return {
        "scans": nodes("Scan parquet"),
        "exchanges": nodes("Exchange"),
        "python_nodes": nodes(
            "BatchEvalPython|ArrowEvalPython|MapInArrow|PythonMapInArrow"
        ),
    }


def scanned_rows(df) -> int:
    """Rows the parquet scans of an executed DataFrame produced, walked
    from the final (adaptive) physical plan's SQL metrics."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics().get("numOutputRows")
            if m.isDefined():
                total += int(m.get().value())
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return total


def empty_job_ms(spark, n: int = 20) -> float:
    """Median latency of a trivial one-partition DataFrame count (plan,
    one job, one task, no Python worker): the per-job floor."""
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).count()
        ts.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(ts)


def cached_bytes(spark) -> int:
    """Bytes of RDD storage (memory + disk) the session still holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


# -- event log ---------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class OpTrace:
    jobs: int = 0
    executor_run_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    py_bytes_sent: int = 0
    py_bytes_returned: int = 0


def read_event_log(event_log_dir: str, records: list[OpRecord]) -> dict[str, OpTrace]:
    """Per-op totals from the local Spark event log. A job belongs to the
    op whose wall window holds its submission time: ops run one at a
    time, so this also catches jobs an op submits from its own worker
    threads, which do not inherit the caller's job group."""
    paths = [
        os.path.join(d, f)
        for d, _, files in os.walk(event_log_dir)
        for f in files
        if not f.startswith((".", "appstatus"))
    ]
    starts = sorted((int(r.start * 1000), r.label) for r in records)
    out = {r.label: OpTrace() for r in records}
    stage_op: dict[int, str] = {}

    def owner(ms: int) -> str | None:
        lo, hi, best = 0, len(starts) - 1, None
        while lo <= hi:
            mid = (lo + hi) // 2
            if starts[mid][0] <= ms:
                best = starts[mid][1]
                lo = mid + 1
            else:
                hi = mid - 1
        return best

    ends = {r.label: int((r.start + r.seconds) * 1000) + 1 for r in records}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = owner(int(ev["Submission Time"]))
                    if op is None or int(ev["Submission Time"]) > ends[op]:
                        continue
                    out[op].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    t = out[op]
                    m = ev.get("Task Metrics") or {}
                    t.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                    t.jvm_gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    t.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
                    t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name == PY_SENT:
                            t.py_bytes_sent += int(acc.get("Update", 0))
                        elif name == PY_RETURNED:
                            t.py_bytes_returned += int(acc.get("Update", 0))
    return out
