"""Fast checks of the benchmark's own machinery (no Spark session).

    python3 perfbench/selfcheck.py

1. The event-log parser and the op-window attribution, against a tiny
   event log captured from Spark 4.1.2 with ``layers.EventLog``
   (``fixtures/eventlog_tiny.json``, job, stage and task records only):
   ``spark.range(1000, numPartitions=2)`` grouped by ``id % 3`` over two
   shuffle partitions, then ``count()`` over a 4-partition range.
2. The seeded inputs: each permuted table hashes the same as its fixture
   in DuckDB, has the same parquet schema, and is in another row order.
3. The graph_kcore twin rewrite (``e0`` materialized first) returns the
   same answer as the twin as written, on the fixtures.

Exits 1 with the failed checks listed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

# tallied from the captured log's text: 2 JobStart, 4 StageCompleted and
# 9 TaskEnd records; "Executor Run Time" sums to 921 ms, shuffle bytes
# written and read to 502; jobs run 1792242777311-778275 and
# 1792242778492-778659, so a window 1 s wider on each side is 3348 ms of
# which 1131 ms have a job running
EXPECTED_LOG = {
    "jobs": 2,
    "stages": 4,
    "tasks": 9,
    "exec_run_ms": 921,
    "shuffle_write_b": 502,
    "shuffle_read_b": 502,
    "gap_ms": 3348 - 1131,
}


def check_event_log() -> list[str]:
    path = os.path.join(HERE, "fixtures", "eventlog_tiny.json")
    with open(path) as fh:
        events = [json.loads(line) for line in fh if line.strip()]
    parsed = layers.parse_event_log(events)
    times = [j["start"] for j in parsed["jobs"]] + [j["end"] for j in parsed["jobs"]]
    lo, hi = min(times) - 1000, max(times) + 1000
    got = layers.attribute(parsed, lo, hi)
    problems = []
    for key, want in (
        ("jobs", EXPECTED_LOG["jobs"]),
        ("stages", EXPECTED_LOG["stages"]),
        ("tasks", EXPECTED_LOG["tasks"]),
    ):
        if got[key] != want:
            problems.append(f"event log: {key} {got[key]} != {want}")
    checks = (
        ("exec_run_s", EXPECTED_LOG["exec_run_ms"] / 1e3),
        ("shuffle_write_mb", EXPECTED_LOG["shuffle_write_b"] / layers.MB),
        ("shuffle_read_mb", EXPECTED_LOG["shuffle_read_b"] / layers.MB),
        ("driver_gap_s", EXPECTED_LOG["gap_ms"] / 1e3),
    )
    for key, want in checks:
        if abs(got[key] - want) > 1e-9:
            problems.append(f"event log: {key} {got[key]} != {want}")
    # a window that holds only the second job sees only its work
    second = sorted(parsed["jobs"], key=lambda j: j["start"])[1]
    one = layers.attribute(parsed, second["start"], second["end"])
    if one["jobs"] != 1 or one["driver_gap_s"] != 0:
        problems.append(f"event log: second-job window gave {one}")
    return problems


def check_inputs() -> list[str]:
    import duckdb
    import pyarrow.parquet as pq

    from spark_extensions_spark.testing import table_hash

    problems = []
    tables = tuple(sorted(f.removesuffix(".parquet") for f in os.listdir(inputs.DATA_DIR)))
    scratch = os.path.join(os.path.dirname(HERE), ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    out = tempfile.mkdtemp(prefix="selfcheck_", dir=scratch)
    try:
        inputs.write_permuted(tables, 7, out)
        con = duckdb.connect()
        for name in tables:
            src = inputs.fixture_path(name)
            dst = os.path.join(out, f"{name}.parquet")
            hashes = []
            for path in (src, dst):
                res = con.sql(f"SELECT * FROM read_parquet('{path}')")
                hashes.append(table_hash(list(res.columns), res.fetchall()))
            if hashes[0] != hashes[1]:
                problems.append(f"inputs: {name} hash {hashes[1]} != fixture {hashes[0]}")
            if not pq.ParquetFile(src).schema.equals(pq.ParquetFile(dst).schema):
                problems.append(f"inputs: {name} parquet schema differs")
            a, b = (pq.read_table(p).slice(0, 50) for p in (src, dst))
            if a.equals(b):
                problems.append(f"inputs: {name} kept the fixture row order")
        con.close()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return problems


def check_kcore_rewrite() -> list[str]:
    import duckdb

    from spark_extensions_spark.queries import registry
    from spark_extensions_spark.testing import table_hash

    sql = {q.name: q.oracle for q in registry()}["graph_kcore"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{inputs.fixture_path('lineitem')}')")
    as_written = con.sql(sql)
    want = table_hash(list(as_written.columns), as_written.fetchall())
    create, rest = oracle.materialize_cte(sql, "e0")
    con.execute(create)
    rewritten = con.sql(rest)
    got = table_hash(list(rewritten.columns), rewritten.fetchall())
    con.close()
    return [] if got == want else [f"kcore rewrite: {got} != as written {want}"]


def main() -> int:
    problems = check_event_log() + check_inputs() + check_kcore_rewrite()
    for p in problems:
        print(f"FAIL {p}")
    print("selfcheck ok" if not problems else f"{len(problems)} failed")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
