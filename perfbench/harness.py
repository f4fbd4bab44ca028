"""Shared machinery of the benchmark: the run environment, session
set-up, statistics, spans, and the per-layer counters read from Spark
(event log, ``QueryPlanningTracker`` phases, streaming progress).

Everything here observes the engine from outside: spans are recorded
around calls into its modules, counters come from Spark's own logs.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import statistics
import subprocess
import time

# Accumulator names Spark gives the SQL metrics of Python-worker
# operators (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas...);
# a stage carrying one runs Python/Arrow work.
_PYTHON_METRIC_MARKER = "Python workers"


def median(values: list[float]) -> float:
    return statistics.median(values)


def p90(values: list[float]) -> float:
    """90th percentile, interpolated inside the sample range."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written to one JSON file by ``write``. A disabled tracer records
    nothing, so untraced runs pay only a context-manager call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "metrics": metrics, "spans": self.spans}, f)


class Session:
    """The SparkSession of one run, created through the engine's own
    factory (``session.get_spark``) so the benchmark times the
    configuration the CLI runs.

    ``start`` launches the JVM and starts the session, and ``start_s``
    times it from the ``get_spark`` call to the end of a first one-row
    job: what every CLI invocation pays before its first operation."""

    def __init__(self, event_log_dir: str | None = None):
        self.extra_conf = None
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            self.extra_conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            }
        self.event_log_dir = event_log_dir
        self.spark = None
        self.start_s = 0.0
        self._proc = None
        self._gateway = None

    def start(self):
        from dbt_economic_indicators_eu_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(extra_conf=self.extra_conf)
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0
        self._gateway = self.spark.sparkContext._gateway
        self._proc = self._gateway.proc
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident set of the Spark JVM plus this Python process."""
        jvm_kb = 0
        with open(f"/proc/{self._proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def retained_mb(self) -> dict[str, float]:
        """Memory the Spark JVM and this process hold on to, in MB: JVM
        heap in use after a full collection, JVM non-heap in use
        (metaspace, code cache), and this Python process's resident set.
        Unlike the peak resident set, none of them depends on when the
        collector last ran. The
        collection runs three times, a moment apart: Spark's context
        cleaner frees shuffle and broadcast blocks only after a
        collection has found their handles unreachable."""
        jvm = self.spark._jvm
        for _ in range(3):
            jvm.java.lang.System.gc()
            time.sleep(0.3)
        rt = jvm.java.lang.Runtime.getRuntime()
        non_heap = (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
                    .getNonHeapMemoryUsage().getUsed())
        with open("/proc/self/status") as f:
            py_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
        return {
            "jvm_heap_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
            "jvm_non_heap_mb": non_heap / 2**20,
            "python_rss_mb": py_kb / 1024.0,
        }

    def stop(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit (its
        Python worker daemons exit with it)."""
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        with contextlib.suppress(Exception):
            self._gateway.shutdown()
        with contextlib.suppress(OSError):
            self._proc.stdin.close()
        try:
            self._proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=30)


def catalyst_totals(spark, frames) -> dict[str, float]:
    """Catalyst phase times (s) summed over ``frames``, from the
    ``QueryPlanningTracker`` of a fresh Dataset over each frame's
    logical plan: analysis, optimization and physical planning run again
    from scratch, and nothing executes."""
    jvm = spark._jvm
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for df in frames:
        fresh = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.queryExecution().logical()
        )
        qe = fresh.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in out:
                out[kv._1()] += kv._2().durationMs() / 1000.0
    return {f"catalyst.{k}_s": v for k, v in out.items()}


def exec_counters(event_log_dir: str) -> dict[str, float]:
    """Per-stage execution counters summed over every event log under
    ``event_log_dir`` (uncompressed JSON lines; a rolling log is a
    directory of ``events_*`` files)."""
    c = dict.fromkeys(
        ["jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
         "scheduler_delay_s", "input_bytes", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "python_stage_s"], 0.0)
    stage_run_ms: dict[tuple[int, int], float] = {}
    python_stages: set[tuple[int, int]] = set()
    paths = [os.path.join(root, name)
             for root, _dirs, files in os.walk(event_log_dir)
             for name in sorted(files)
             if not name.startswith((".", "appstatus"))]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    c["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    c["stages"] += 1
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    if any(_PYTHON_METRIC_MARKER in str(a.get("Name", ""))
                           for a in info.get("Accumulables", [])):
                        python_stages.add(key)
                elif kind == "SparkListenerTaskEnd":
                    _add_task(c, ev, stage_run_ms)
    c["python_stage_s"] = sum(stage_run_ms.get(k, 0.0) for k in python_stages) / 1000.0
    return c


def _add_task(c: dict, ev: dict, stage_run_ms: dict) -> None:
    m = ev.get("Task Metrics")
    if not m:
        return
    info = ev["Task Info"]
    run_ms = m.get("Executor Run Time", 0)
    c["tasks"] += 1
    c["task_run_s"] += run_ms / 1000.0
    c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = (run_ms + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0))
    c["scheduler_delay_s"] += max(duration - overhead, 0) / 1000.0
    c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics", {})
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
    stage_run_ms[key] = stage_run_ms.get(key, 0.0) + run_ms


STREAM_PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress update
    (``recentProgress`` keeps only the last 100 per query)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.updates: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.updates.append({
                "id": str(p.id),
                "batch_id": p.batchId,
                "timestamp": p.timestamp,
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def streaming_counters(updates: list[dict]) -> dict[str, float]:
    """Micro-batch counters over the progress updates of batches that
    read input: count, median trigger duration and median phase times
    (ms), and the largest state seen."""
    batches = [u for u in updates if u["input_rows"] > 0]
    out = {"batches": float(len(batches))}

    def med(key):
        vals = [u["duration_ms"].get(key, 0) for u in batches]
        return float(median(vals)) if vals else 0.0

    out["batch_p50_ms"] = med("triggerExecution")
    for phase in STREAM_PHASES:
        out[f"{phase}_ms"] = med(phase)
    out["state_rows"] = float(max((u["state_rows"] for u in updates), default=0))
    out["state_mem_bytes"] = float(max((u["state_mem_bytes"] for u in updates), default=0))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from
    ``/proc/stat``: the share of steal over a run is the time a virtual
    machine's CPUs spent waiting for the hypervisor, which slows every
    timed figure of that run alike."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size
