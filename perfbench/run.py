"""Benchmark: registry queries in a fresh Spark session, cold and warm.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

One run makes its inputs from the seed (inputs.py), computes every op's
expected answer with the DuckDB twin in a separate process (oracle.py),
starts one ``local[nproc]`` session and runs the workload's ops in a
closed loop, one op at a time:

- ``setup_s``: process start until the registry is imported,
  ``get_spark`` has returned and the input tables are registered and
  scanned once (input generation and DuckDB excluded);
- ``cold_s``: the first pass over the ops;
- ``warm_s``: the median of the timed passes, which follow the
  workload's untimed warm-up passes and run until ``--seconds`` have
  passed and the workload's minimum count is reached;
- ``peak_rss_mb``: summed ``VmHWM`` of the driver Python, the JVM and the
  live Python workers at the end of the run (idle workers are capped at
  one per core);
- ``ok_ratio`` / ``right_ratio``: ops that returned / whose
  ``testing.table_hash`` equals the twin's, over ops attempted.

The three times are wall-clock seconds scaled by the share of the time
the run's CPUs were runnable that they actually ran; the rest was stolen
by the hypervisor for the host's other tenants (``steal`` in
``/proc/stat``). On a 4-vCPU VM of a shared host, steal took up to a
quarter of the CPUs' time in some runs and slowed a pass up to 2.5-fold;
where nothing is stolen the times are plain wall-clock seconds. Each
op's raw wall time, busy and stolen CPU seconds are in the record.

With ``--trace 1`` the run alternates traced and untraced timed passes
(the cold pass is traced, the warm-up passes are not) and prints the
per-layer metrics instead.
Every run writes its record (environment, per-op times and checks,
residue after each pass; traced runs add each op's layer view and the
reasons for unmeasured layers) to ``.perfbench/records/``. Each run
works in its own scratch directory under ``.perfbench/runs/`` (TMPDIR,
Spark local dirs, checkpoints, event logs) and deletes it at the end.
The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

import inputs
import layers
from layers import median, now_ms
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_extensions_spark"

DRIVER_MEM = "2g"
# Traced runs alternate traced and untraced timed passes and compare the
# first traced pass with the last, so they need at least four.
MIN_TIMED_TRACED = 4

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
    "right_ratio": "ratio",
}

# per-layer metric -> (unit, better); "per pass" values are medians over
# the traced warm passes
PER_LAYER = {
    "session.import_s": ("s", "lower"),
    "session.get_spark_s": ("s", "lower"),
    "session.load_tables_s": ("s", "lower"),
    "session.drift_ratio": ("ratio", "lower"),
    "residue.persisted_rdds": ("count", "lower"),
    "residue.tmp_entries": ("count", "lower"),
    "residue.catalog_tables": ("count", "lower"),
    "residue.active_streams": ("count", "lower"),
    "driver.gap_s": ("s", "lower"),
    "driver.gap_share": ("ratio", "lower"),
    "spark.jobs": ("count/op", "lower"),
    "spark.stages": ("count/op", "lower"),
    "spark.tasks": ("count/op", "lower"),
    "exec.run_s": ("s", "lower"),
    "exec.cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "shuffle.write_mb": ("MB", "lower"),
    "shuffle.read_mb": ("MB", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "spill.mb": ("MB", "lower"),
    "cold.extra_s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.latest_offset_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.start_ms": ("ms", "lower"),
    "filekafka.produce_s": ("s", "lower"),
    "filekafka.produce_calls": ("count", "lower"),
    "filekafka.produce_share": ("ratio", "lower"),
    "filekafka.topic_mb": ("MB", "lower"),
    "incremental.apply_cdc_s": ("s", "lower"),
    "incremental.apply_cdc_calls": ("count", "lower"),
    "graph.op_s.bfs_layers": ("s", "lower"),
    "graph.op_s.k_core": ("s", "lower"),
    "graph.jobs_per_round": ("count", "lower"),
    "graph.checkpoint_mb": ("MB", "lower"),
    "mem.jvm_hwm_mb": ("MB", "lower"),
    "mem.python_hwm_mb": ("MB", "lower"),
    "oracle.duckdb_s": ("s", "lower"),
    "oracle.compare_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def unstolen(seconds: float, busy: float, steal: float) -> float:
    """Wall seconds scaled by the share of the CPUs' runnable time they
    actually ran (``busy`` against ``busy + steal``, see ``layers.cpu_s``):
    the interval as it would have been had the host's other tenants taken
    nothing, if stolen time stretched all of it alike."""
    return seconds * busy / (busy + steal) if busy + steal > 0 else seconds


def cpu_since(start: tuple[float, float]) -> tuple[float, float]:
    busy, steal = layers.cpu_s()
    return busy - start[0], steal - start[1]


# ---------------------------------------------------------------------
# one op, one pass
# ---------------------------------------------------------------------


def run_op(spark, query, sf_dir: str, expected: dict) -> dict:
    from spark_extensions_spark.testing import table_hash

    rec = {"op": query.name, "ok": False, "right": False, "error": None}
    lo = now_ms()
    cpu0 = layers.cpu_s()
    t0 = time.perf_counter()
    try:
        df = query.spark(spark, sf_dir)
        rows = df.collect()
        rec["ok"] = True
    except Exception as exc:  # an op failure is a result, not a crash
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
    rec["seconds"] = time.perf_counter() - t0
    rec["busy_s"], rec["steal_s"] = cpu_since(cpu0)
    rec["window"] = (lo, now_ms())
    if rec["ok"]:
        c0 = time.perf_counter()
        got = table_hash(df.columns, [tuple(r) for r in rows])
        rec["compare_s"] = time.perf_counter() - c0
        rec["rows"] = len(rows)
        rec["right"] = got == expected[query.name]["hash"]
        if not rec["right"]:
            rec["error"] = f"hash {got} != twin {expected[query.name]['hash']}"
    return rec


class Tracer:
    """Turns the layer probes on for a traced pass and off after it."""

    def __init__(self, spark, run_dir: str, tmp_dir: str):
        self.spark = spark
        self.tmp_dir = tmp_dir
        self.event_log = layers.EventLog(spark, os.path.join(run_dir, "eventlog"))
        self.stream = layers.make_stream_probe()
        self.spans = layers.Spans(self.stream)

    def __enter__(self):
        self.event_log.attach()
        self.spark.streams.addListener(self.stream)
        self.spans.install()
        return self

    def __exit__(self, *exc):
        self.spans.uninstall()
        self.event_log.detach()  # drains the listener bus first
        self.spark.streams.removeListener(self.stream)
        return False

    def before_op(self) -> dict:
        return {"storage_b": layers.storage_bytes(self.spark),
                "topic_b": layers.dir_bytes(self.tmp_dir, "filekafka")}

    def after_op(self, rec: dict, before: dict) -> None:
        layers.drain(self.spark.sparkContext)
        after = self.before_op()
        rec["storage_mb"] = (after["storage_b"] - before["storage_b"]) / layers.MB
        rec["topic_mb"] = (after["topic_b"] - before["topic_b"]) / layers.MB


def run_pass(spark, queries, sf_dir, expected, tracer=None) -> list[dict]:
    recs = []
    for q in queries:
        before = tracer.before_op() if tracer else None
        rec = run_op(spark, q, sf_dir, expected)
        if tracer:
            tracer.after_op(rec, before)
        recs.append(rec)
    return recs


# ---------------------------------------------------------------------
# layer record
# ---------------------------------------------------------------------


def layer_view(tracer: Tracer, rec: dict, parsed: dict) -> dict:
    """Per-op layer numbers from the event log, spans and streaming."""
    lo, hi = rec["window"]
    out = layers.attribute(parsed, lo, hi)
    spans = tracer.spans.within(lo, hi)
    for s in spans:
        s["seconds"] = (s["end"] - s["start"]) / 1e3
        s["jobs"] = sum(1 for j in parsed["jobs"] if s["start"] <= j["start"] <= s["end"])
    out["spans"] = spans
    st = tracer.stream.summary(lo, hi)
    out["stream_batches"] = st["batches"]
    out["stream_start_ms"] = st["start_ms"]
    out["storage_mb"] = rec.get("storage_mb", 0.0)
    out["topic_mb"] = rec.get("topic_mb", 0.0)
    return out


def pass_layers(views: list[dict], seconds: float) -> dict:
    """Per-pass totals of the per-op layer views."""
    tot = {k: sum(v[k] for v in views) for k in (
        "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "exec_gc_s",
        "shuffle_write_mb", "shuffle_read_mb", "shuffle_fetch_wait_s",
        "spill_mb", "driver_gap_s", "topic_mb")}
    spans = [s for v in views for s in v["spans"]]
    batches = [b for v in views for b in v["stream_batches"]]

    def span_s(name):
        return sum(s["seconds"] for s in spans if s["name"] == name)

    def span_n(name):
        return sum(1 for s in spans if s["name"] == name)

    graph = [s for s in spans if s["name"].startswith("graph.")]
    rounds = [s for s in graph if s["rounds"]]
    tot.update(
        seconds=seconds,
        batches=len(batches),
        stream_ms={k: median([b[k] for b in batches]) for k in layers.STREAM_PARTS},
        stream_start_ms=median([x for v in views for x in v["stream_start_ms"]]),
        produce_s=span_s("filekafka.produce"),
        produce_calls=span_n("filekafka.produce"),
        apply_cdc_s=span_s("incremental.apply_cdc"),
        apply_cdc_calls=span_n("incremental.apply_cdc"),
        graph_op_s={n.split(".", 1)[1]: span_s(n) for n in (
            t[0] for t in layers.SPAN_TARGETS if t[0].startswith("graph."))},
        graph_jobs_per_round=(
            sum(s["jobs"] for s in rounds) / sum(s["rounds"] for s in rounds)
            if rounds else 0.0),
        graph_checkpoint_mb=sum(
            v["storage_mb"] for v in views
            if any(s["name"].startswith("graph.") for s in v["spans"])),
    )
    return tot


def pass_metrics(passes: list[dict], n_ops: int) -> dict:
    """Per-layer metrics that come from traced passes: the median over
    ``passes`` of each per-pass value."""

    def med(key):
        return median([p[key] for p in passes])

    m = {
        "driver.gap_s": med("driver_gap_s"),
        "driver.gap_share": median([p["driver_gap_s"] / p["seconds"] for p in passes]),
        "spark.jobs": med("jobs") / n_ops,
        "spark.stages": med("stages") / n_ops,
        "spark.tasks": med("tasks") / n_ops,
        "exec.run_s": med("exec_run_s"),
        "exec.cpu_s": med("exec_cpu_s"),
        "exec.gc_s": med("exec_gc_s"),
        "shuffle.write_mb": med("shuffle_write_mb"),
        "shuffle.read_mb": med("shuffle_read_mb"),
        "shuffle.fetch_wait_s": med("shuffle_fetch_wait_s"),
        "spill.mb": med("spill_mb"),
        "streaming.batches": med("batches"),
        "streaming.start_ms": med("stream_start_ms"),
        "filekafka.produce_s": med("produce_s"),
        "filekafka.produce_calls": med("produce_calls"),
        "filekafka.produce_share": median([p["produce_s"] / p["seconds"] for p in passes]),
        "filekafka.topic_mb": med("topic_mb"),
        "incremental.apply_cdc_s": med("apply_cdc_s"),
        "incremental.apply_cdc_calls": med("apply_cdc_calls"),
        "graph.jobs_per_round": med("graph_jobs_per_round"),
        "graph.checkpoint_mb": med("graph_checkpoint_mb"),
    }
    for part, name in zip(layers.STREAM_PARTS, (
            "trigger_ms", "add_batch_ms", "query_planning_ms",
            "latest_offset_ms", "wal_commit_ms", "commit_offsets_ms")):
        m[f"streaming.{name}"] = median([p["stream_ms"][part] for p in passes])
    for fn in passes[0]["graph_op_s"]:
        m[f"graph.op_s.{fn}"] = median([p["graph_op_s"][fn] for p in passes])
    return m


# layer metrics the benchmark leaves out: the ops that reach them do not
# fit the run budget (a fresh JVM and a cold pass per run)
LEFT_OUT = {
    "filekafka.truncate_s": "truncate_before runs in kafka_log_maintenance, not benchmarked",
    "filekafka.compact_s": "compact_segments runs in kafka_log_maintenance, not benchmarked",
    "filekafka.sink_write_s": "the filekafka sink runs in kafka_sink_exactly_once, not benchmarked",
    "graph.op_s.pagerank": "graph_pagerank is not benchmarked",
    "graph.op_s.label_propagation": "graph_communities is not benchmarked",
    "graph.op_s.connected_components_star": "dedup_clusters_star is not benchmarked",
}

# a layer metric that reads 0 in the warm passes is unmeasured there
LAYER_OF = {
    "streaming.": "a streaming query",
    "filekafka.": "the filekafka layer",
    "incremental.": "apply_cdc_batch",
    "graph.op_s.": None,  # named by the metric
    "graph.": "a graph round loop",
}


def per_layer_metrics(res: dict) -> tuple[dict, dict]:
    """The ``per_layer`` metrics (traced warm passes) and, for each
    layer metric that reads 0, why it is unmeasured on this workload."""
    n_ops = len(res["ops"])
    warm = pass_metrics(res["traced_warm_layers"], n_ops)
    cold = pass_metrics([res["cold_layers"]], n_ops)
    mem = res["memory"]
    m = {
        "session.import_s": res["setup"]["import_s"],
        "session.get_spark_s": res["setup"]["get_spark_s"],
        "session.load_tables_s": res["setup"]["load_tables_s"],
        "session.drift_ratio": res["drift_ratio"],
        **{f"residue.{k}": v for k, v in res["residue"][-1].items()},
        **warm,
        "cold.extra_s": res["cold_s"] - res["warm_s"],
        "mem.jvm_hwm_mb": mem["jvm_mb"],
        "mem.python_hwm_mb": mem["driver_python_mb"] + mem["workers_mb"],
        "oracle.duckdb_s": sum(e["seconds"] for e in res["expected"].values()),
        "oracle.compare_s": sum(r.get("compare_s", 0.0) for p in res["passes"] for r in p),
        "trace.overhead_ratio": res["trace_overhead_ratio"],
    }
    unmeasured = dict(LEFT_OUT)
    for key, value in m.items():
        prefix = next((p for p in LAYER_OF if key.startswith(p)), None)
        if prefix is None or value != 0:
            continue
        what = LAYER_OF[prefix] or key.rsplit(".", 1)[1]
        if cold.get(key):
            unmeasured[key] = (f"only the cold pass reaches {what} "
                               f"(cold-pass value {cold[key]:.4g})")
        else:
            unmeasured[key] = f"no op of this workload reaches {what}"
    return m, unmeasured


# ---------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------


def environment(spark, seed: int) -> dict:
    import duckdb
    import pyspark

    sc = spark.sparkContext
    commit = "unknown"  # a plain checkout; package_sha256 names the code
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": nproc(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "commit": commit,
        "package_sha256": package_digest(),
        "seed": seed,
    }


def package_digest() -> str:
    """Content hash of the package sources: names the code under test
    where the checkout is not a git repository."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and the Python workers under it, and wait
    until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = layers.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    alive = workers
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    wl = WORKLOADS[workload]
    cores = nproc()
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{workload}-s{seed}-{os.getpid()}")
    sf_dir, tmp_dir, local_dir = (os.path.join(run_dir, d) for d in ("sf", "tmp", "local"))
    for d in (tmp_dir, local_dir):
        os.makedirs(d, exist_ok=True)
    try:
        return _run(wl, seed, seconds, trace, cores, run_dir, sf_dir, tmp_dir, local_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(wl, seed, seconds, trace, cores, run_dir, sf_dir, tmp_dir, local_dir) -> dict:
    import tempfile

    # run hygiene: every temp path of this process, the JVM and the
    # Python workers lives under run_dir
    os.environ.update(
        TMPDIR=tmp_dir,
        SPARK_LOCAL_DIRS=local_dir,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    tempfile.tempdir = tmp_dir

    t_inputs = time.perf_counter()
    inputs.write_permuted(wl.tables, seed, sf_dir)
    oracle = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle.py"), sf_dir, tmp_dir, *wl.ops],
        capture_output=True, text=True, timeout=120,
    )
    if oracle.returncode != 0:
        raise RuntimeError(f"DuckDB twins failed:\n{oracle.stderr[-2000:]}")
    expected = json.loads(oracle.stdout.strip().splitlines()[-1])
    excluded_s = time.perf_counter() - t_inputs
    cpu_after_inputs = layers.cpu_s()

    # setup_s starts at process start and excludes inputs and DuckDB
    from spark_extensions_spark.queries import registry
    from spark_extensions_spark.session import get_spark, load_tables

    # interpreter start to here, less the excluded input/DuckDB time
    import_s = process_age_s() - excluded_s
    t1 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{wl.name}",
        extra_conf={
            "spark.sql.shuffle.partitions": str(cores),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # idle Python workers beyond one per core are stopped, so the
            # workers alive at the end (counted in peak_rss_mb) do not
            # depend on how task start and worker release happened to race
            "spark.python.factory.idleWorkerMaxPoolSize": str(cores),
            # a fixed-size, pre-touched heap keeps the JVM's resident set
            # from following G1's run-to-run heap growth
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp_dir} -Dderby.system.home={tmp_dir}",
        },
    )
    t2 = time.perf_counter()
    try:
        spark.sparkContext.setCheckpointDir(os.path.join(run_dir, "ckpt"))
        for df in load_tables(spark, sf_dir, *wl.tables).values():
            df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        setup = {"import_s": import_s, "get_spark_s": t2 - t1, "load_tables_s": t3 - t2}
        # stolen time before the inputs were made (interpreter start,
        # imports) is not corrected for
        setup_cpu_s = cpu_since(cpu_after_inputs)
        env = environment(spark, seed)
        by_name = {q.name: q for q in registry()}
        queries = [by_name[n] for n in wl.ops]
        res = _passes(spark, queries, sf_dir, expected, seconds, wl.warmup, wl.timed,
                      trace, run_dir, tmp_dir)
        res["memory"] = layers.memory_hwm_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_session(spark)
    res.update(workload=wl.name, ops=list(wl.ops), setup=setup,
               setup_cpu_s=setup_cpu_s,
               setup_s=unstolen(sum(setup.values()), *setup_cpu_s),
               env=env, expected=expected)
    return res


def _passes(spark, queries, sf_dir, expected, seconds, warmup, timed, trace,
            run_dir, tmp_dir) -> dict:
    tracer = Tracer(spark, run_dir, tmp_dir) if trace else None
    passes, traced_flags, residue = [], [], []

    def one_pass(traced: bool):
        if traced:
            with tracer:
                recs = run_pass(spark, queries, sf_dir, expected, tracer)
        else:
            recs = run_pass(spark, queries, sf_dir, expected)
        passes.append(recs)
        traced_flags.append(traced)
        residue.append(layers.residue(spark, tmp_dir))
        return sum(unstolen(r["seconds"], r["busy_s"], r["steal_s"]) for r in recs)

    cold_s = one_pass(trace)
    for _ in range(warmup):
        one_pass(False)
    n_before = len(passes)
    warm_times: list[float] = []
    t_warm = time.perf_counter()
    min_timed = max(timed, MIN_TIMED_TRACED) if trace else timed
    while len(warm_times) < min_timed or time.perf_counter() - t_warm < seconds:
        # traced runs alternate, starting traced, so both kinds are seen
        warm_times.append(one_pass(trace and len(warm_times) % 2 == 0))
    warm_flags = traced_flags[n_before:]

    # drift compares like with like: traced passes in a traced run
    same = [t for t, f in zip(warm_times, warm_flags) if f == trace]
    res = {
        "cold_s": cold_s,
        "warm_times": warm_times,
        "warm_s": median(warm_times),
        "drift_ratio": same[-1] / same[0],
        "passes": passes,
        "traced": traced_flags,
        "residue": residue,
    }
    if trace:
        parsed = layers.parse_event_log(tracer.event_log.events())
        views = []
        for recs, traced in zip(passes, traced_flags):
            views.append([layer_view(tracer, r, parsed) if traced else None for r in recs])
        res["views"] = views
        res["cold_layers"] = pass_layers(views[0], cold_s)
        res["traced_warm_layers"] = [
            pass_layers(v, sum(r["seconds"] for r in recs))
            for recs, v, traced in list(zip(passes, views, traced_flags))[n_before:]
            if traced
        ]
        warm_traced = [t for t, f in zip(warm_times, warm_flags) if f]
        warm_plain = [t for t, f in zip(warm_times, warm_flags) if not f]
        res["trace_overhead_ratio"] = median(warm_traced) / median(warm_plain)
    return res


def summarize(res: dict, trace: bool) -> dict:
    recs = [r for p in res["passes"] for r in p]
    attempted = len(recs)
    ok = sum(r["ok"] for r in recs)
    right = sum(r["right"] for r in recs)
    if trace:
        metrics, unmeasured = per_layer_metrics(res)
        res["unmeasured"] = unmeasured
    else:
        mem = res["memory"]
        metrics = {
            "setup_s": res["setup_s"],
            "cold_s": res["cold_s"],
            "warm_s": res["warm_s"],
            "peak_rss_mb": mem["driver_python_mb"] + mem["jvm_mb"] + mem["workers_mb"],
            "ok_ratio": ok / attempted,
            "right_ratio": right / attempted,
        }
    units = END_TO_END if not trace else {k: u for k, (u, _) in PER_LAYER.items()}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from the declared set: {set(metrics) ^ set(units)}")
    return {
        "correct": right == attempted,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def write_record(res: dict, trace: bool) -> str:
    out_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{res['workload']}-seed{res['env']['seed']}-trace{int(trace)}.json"
    )
    with open(path, "w") as fh:
        json.dump(res, fh, indent=1, default=str)
    return path


def run_all(args) -> int:
    """Every workload in its own process; one table of end-to-end metrics."""
    results = {}
    for name in WORKLOADS:
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        if child.returncode != 0:
            sys.stderr.write(child.stderr[-4000:])
            return child.returncode
        results[name] = json.loads(child.stdout.strip().splitlines()[-1])
        for metric, v in results[name]["metrics"].items():
            print(f"{name:14s} {metric:12s} {v['value']:12.4f} {v['unit']}")
    print(json.dumps(results))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
        result = summarize(res, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    res["result"] = result
    path = write_record(res, bool(args.trace))
    for recs in res["passes"]:
        for r in recs:
            if not (r["ok"] and r["right"]):
                print(f"defect: {r['op']}: {r['error']}", file=sys.stderr)
    print(json.dumps({"environment": res["env"], "record": os.path.relpath(path, ROOT)}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
