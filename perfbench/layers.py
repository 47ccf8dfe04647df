"""Layer measurements taken from outside the program.

Everything here observes the engine through public surfaces: Spark's
JSON event log (attached as a listener for traced passes only), the
streaming query listener, wrappers around public functions of the
package, the session's catalog and storage status, and ``/proc``.
Nothing in ``spark_extensions_spark`` is changed on disk.

Timestamps of op windows are epoch milliseconds, the clock the JVM
stamps its events with, so Spark jobs are assigned to ops by time window
(one op runs at a time).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

MB = 1024 * 1024


def now_ms() -> float:
    return time.time() * 1000.0


# ---------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------


class EventLog:
    """Spark's own ``EventLoggingListener``, attached to a running
    context for the traced passes and detached for the untraced ones,
    so one session can measure its own tracing overhead."""

    def __init__(self, spark, log_dir: str):
        self._sc = spark.sparkContext
        self._dir = log_dir
        self._listener = None
        self.files: list[str] = []
        os.makedirs(log_dir, exist_ok=True)

    def attach(self) -> None:
        sc, jvm = self._sc, self._sc._jvm
        jsc = sc._jsc.sc()
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        # one file per attachment: the listener names it after the app id
        attempt = f"a{len(self.files)}"
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(),
            jvm.scala.Option.apply(attempt),
            jvm.java.net.URI("file:" + os.path.abspath(self._dir)),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        listener.start()
        jsc.addSparkListener(listener)
        self._listener = listener

    def detach(self) -> None:
        if self._listener is None:
            return
        jsc = self._sc._jsc.sc()
        drain(self._sc)
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None
        self.files = sorted(
            os.path.join(self._dir, f)
            for f in os.listdir(self._dir)
            if not f.startswith(".")
        )

    def events(self) -> list[dict]:
        out: list[dict] = []
        for path in self.files:
            with open(path) as fh:
                out.extend(json.loads(line) for line in fh if line.strip())
        return out


def drain(sc) -> None:
    """Wait until Spark's listener bus has delivered every posted event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def parse_event_log(events: list[dict]) -> dict:
    """Reduce event-log records to jobs, completed stages and tasks.

    Returns ``{"jobs": [{id, start, end}], "stages": [{id, attempt,
    start, tasks}], "tasks": [{stage, start, run_ms, cpu_ns, gc_ms,
    shuffle_write_b, shuffle_read_b, fetch_wait_ms, spill_b}]}`` with
    epoch-millisecond times.
    """
    jobs: dict[int, dict] = {}
    stages: list[dict] = []
    tasks: list[dict] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"],
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages.append(
                {
                    "id": info["Stage ID"],
                    "attempt": info["Stage Attempt ID"],
                    "start": info.get("Submission Time"),
                    "tasks": info["Number of Tasks"],
                }
            )
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "start": ev["Task Info"]["Launch Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                }
            )
    return {"jobs": list(jobs.values()), "stages": stages, "tasks": tasks}


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def attribute(parsed: dict, lo: float, hi: float) -> dict:
    """Spark-side layer numbers for one op window ``[lo, hi]`` (epoch
    ms): job/stage/task counts, executor and shuffle totals, and the
    driver gap (window time with no Spark job running)."""
    inside = lambda t: t is not None and lo <= t <= hi  # noqa: E731
    jobs = [j for j in parsed["jobs"] if inside(j["start"])]
    stages = [s for s in parsed["stages"] if inside(s["start"])]
    tasks = [t for t in parsed["tasks"] if inside(t["start"])]
    busy = _covered_ms(
        [(j["start"], j["end"] if j["end"] is not None else hi) for j in jobs],
        lo,
        hi,
    )
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "exec_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "exec_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec_gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / MB,
        "shuffle_read_mb": sum(t["shuffle_read_b"] for t in tasks) / MB,
        "shuffle_fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1e3,
        "spill_mb": sum(t["spill_b"] for t in tasks) / MB,
        "driver_gap_s": max(0.0, (hi - lo) - busy) / 1e3,
    }


# ---------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------

STREAM_PARTS = ("triggerExecution", "addBatch", "queryPlanning",
                "latestOffset", "walCommit", "commitOffsets")


def make_stream_probe():
    """A StreamingQueryListener recording every progress event and the
    time from ``DataStreamWriter.start()`` to a query's first progress.
    Built lazily so importing this module needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.batches: list[dict] = []
            self.started: dict[str, float] = {}
            self.first_progress: dict[str, float] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            qid = str(p.id)
            with self.lock:
                self.first_progress.setdefault(qid, now_ms())
                self.batches.append(
                    {"query": qid, "at": now_ms(),
                     **{k: p.durationMs.get(k, 0) for k in STREAM_PARTS}}
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def note_start(self, query, t_ms: float) -> None:
            with self.lock:
                self.started[str(query.id)] = t_ms

        def summary(self, lo: float, hi: float) -> dict:
            """Batches and start latencies of the queries started in
            ``[lo, hi]``; progress events arrive asynchronously, often
            after the query (and the op) has ended."""
            with self.lock:
                ids = {q for q, t in self.started.items() if lo <= t <= hi}
                bs = [b for b in self.batches if b["query"] in ids]
                starts = [self.first_progress[q] - self.started[q]
                          for q in ids if q in self.first_progress]
            return {"batches": bs, "start_ms": starts}

    return StreamProbe()


# ---------------------------------------------------------------------
# Spans around public functions of the package
# ---------------------------------------------------------------------

# (span name, module, function, argument holding the round count)
SPAN_TARGETS = (
    ("filekafka.produce", "spark_extensions_spark.sources.filekafka", "produce", None),
    ("incremental.apply_cdc", "spark_extensions_spark.operators.incremental", "apply_cdc_batch", None),
    ("graph.bfs_layers", "spark_extensions_spark.operators.graph", "bfs_layers", "rounds"),
    ("graph.k_core", "spark_extensions_spark.operators.graph", "k_core", "rounds"),
)


class Spans:
    """Wraps the SPAN_TARGETS functions (every module-level reference
    to them inside the package), recording ``(name, start_ms, end_ms,
    rounds)``; only the outermost call of a name on a thread is
    recorded. Also notes ``DataStreamWriter.start`` calls for the
    stream probe."""

    def __init__(self, stream_probe):
        self.records: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._probe = stream_probe

    def _wrap(self, name: str, fn, rounds_arg: str | None):
        sig = inspect.signature(fn)
        spans = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = getattr(spans._local, name, 0)
            setattr(spans._local, name, depth + 1)
            t0 = now_ms()
            try:
                return fn(*args, **kwargs)
            finally:
                setattr(spans._local, name, depth)
                if depth == 0:
                    rounds = None
                    if rounds_arg is not None:
                        bound = sig.bind(*args, **kwargs)
                        bound.apply_defaults()
                        rounds = bound.arguments[rounds_arg]
                    with spans._lock:
                        spans.records.append(
                            {"name": name, "start": t0, "end": now_ms(),
                             "rounds": rounds}
                        )

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        for name, mod_name, attr, rounds_arg in SPAN_TARGETS:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(name, original, rounds_arg)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("spark_extensions_spark"):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is original:
                        self._patch(mod, key, wrapper)

        start, probe = DataStreamWriter.start, self._probe

        def noted_start(writer, *args, **kwargs):
            t0 = now_ms()
            query = start(writer, *args, **kwargs)
            probe.note_start(query, t0)
            return query

        self._patch(DataStreamWriter, "start", noted_start)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def within(self, lo: float, hi: float) -> list[dict]:
        with self._lock:
            return [r for r in self.records if lo <= r["start"] <= hi]


# ---------------------------------------------------------------------
# Session residue, storage and memory
# ---------------------------------------------------------------------


def residue(spark, tmp_dir: str) -> dict:
    """What the session holds after a pass: the direction-4 counters."""
    return {
        "persisted_rdds": len(spark.sparkContext._jsc.getPersistentRDDs()),
        "tmp_entries": len(os.listdir(tmp_dir)),
        "catalog_tables": len(spark.catalog.listTables()),
        "active_streams": len(spark.streams.active),
    }


def cpu_s() -> tuple[float, float]:
    """Busy and stolen CPU seconds so far, summed over the CPUs this
    process may run on (``/proc/stat``). Stolen time is time a CPU was
    runnable while the hypervisor ran the host's other tenants."""
    cpus = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    busy = steal = 0
    with open("/proc/stat") as fh:
        for line in fh:
            fields = line.split()
            if fields[0] in cpus:
                # user nice system idle iowait irq softirq steal
                user, nice, system, _, _, irq, softirq, stolen = map(int, fields[1:9])
                busy += user + nice + system + irq + softirq
                steal += stolen
    hz = os.sysconf("SC_CLK_TCK")
    return busy / hz, steal / hz


def dir_bytes(path: str, prefix: str) -> int:
    """Bytes of regular files under the top-level entries of ``path``
    whose name starts with ``prefix``."""
    total = 0
    for entry in os.listdir(path):
        if not entry.startswith(prefix):
            continue
        top = os.path.join(path, entry)
        if os.path.isfile(top):
            total += os.path.getsize(top)
            continue
        for dirpath, _, files in os.walk(top):
            for fn in files:
                fp = os.path.join(dirpath, fn)
                if os.path.isfile(fp) and not os.path.islink(fp):
                    total += os.path.getsize(fp)
    return total


def storage_bytes(spark) -> int:
    """Memory plus disk bytes of every RDD the block manager holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # comm may hold spaces; ppid is the second field after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def memory_hwm_mb(jvm_pid: int) -> dict:
    """Kernel high-water marks (``VmHWM``): the driver Python, the JVM,
    and the Python workers still alive under the JVM."""
    workers = descendants(jvm_pid)
    return {
        "driver_python_mb": _status_kb(os.getpid(), "VmHWM") / 1024,
        "jvm_mb": _status_kb(jvm_pid, "VmHWM") / 1024,
        "workers_mb": sum(_status_kb(p, "VmHWM") for p in workers) / 1024,
        "n_workers": len(workers),
    }


def median(values) -> float:
    """Median, 0.0 for no values (a layer the passes never reached)."""
    return statistics.median(values) if values else 0.0
