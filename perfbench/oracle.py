"""Expected answers from the registry's DuckDB twins.

Run as its own process before Spark starts, so the twin's memory never
sits next to the JVM and never counts in peak_rss_mb:

    python3 perfbench/oracle.py <sf_dir> <scratch_dir> <op> [<op> ...]

prints one JSON object ``{op: {"hash", "rows", "seconds", "rewrite"}}``.
DuckDB runs under a memory limit and spills into ``scratch_dir``.
"""

from __future__ import annotations

import json
import os
import sys
import time

MEMORY_LIMIT = "1GB"


def materialize_cte(sql: str, name: str) -> tuple[str, str]:
    """Split ``WITH <name> AS (<body>), rest...`` into a
    ``CREATE TEMP TABLE <name> AS <body>`` statement and the query with
    that CTE removed. Same SQL semantics; DuckDB then reads ``<name>``
    once instead of re-evaluating it for every reference."""
    head = sql.lstrip()
    prefix = f"WITH {name} AS ("
    if not head.startswith(prefix):
        raise ValueError(f"twin does not start with CTE {name}")
    depth, i = 1, len(prefix)
    while depth:
        depth += {"(": 1, ")": -1}.get(head[i], 0)
        i += 1
    body = head[len(prefix) : i - 1]
    rest = head[i:].lstrip()
    if not rest.startswith(","):
        raise ValueError(f"CTE {name} is the only CTE")
    return f"CREATE TEMP TABLE {name} AS {body}", "WITH " + rest[1:].lstrip()


# Twins that DuckDB cannot evaluate as written within MEMORY_LIMIT: the
# graph_kcore twin references its e0 self-join from every round, and
# DuckDB re-evaluates it per reference (hit a 3 GB limit at sf0.1).
CTE_REWRITES = {"graph_kcore": "e0"}


def expected(sf_dir: str, scratch: str, ops: list[str]) -> dict[str, dict]:
    import duckdb

    from spark_extensions_spark.queries import registry
    from spark_extensions_spark.testing import table_hash

    by_name = {q.name: q for q in registry()}
    out: dict[str, dict] = {}
    for op in ops:
        sql = by_name[op].oracle
        if sql is None:
            raise ValueError(f"{op} has no DuckDB twin")
        con = duckdb.connect(
            config={
                "memory_limit": MEMORY_LIMIT,
                "threads": len(os.sched_getaffinity(0)),
                "temp_directory": scratch,
            }
        )
        try:
            for fn in sorted(os.listdir(sf_dir)):
                table = fn.removesuffix(".parquet")
                path = os.path.join(sf_dir, fn)
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
                )
            t0 = time.perf_counter()
            rewrite = None
            if op in CTE_REWRITES:
                rewrite = f"{CTE_REWRITES[op]} materialized first"
                create, sql = materialize_cte(sql, CTE_REWRITES[op])
                con.execute(create)
            res = con.sql(sql)
            cols = list(res.columns)
            rows = res.fetchall()
            seconds = time.perf_counter() - t0
        finally:
            con.close()
        out[op] = {
            "hash": table_hash(cols, rows),
            "rows": len(rows),
            "seconds": seconds,
            "rewrite": rewrite,
        }
    return out


def main(argv: list[str]) -> int:
    sf_dir, scratch, *ops = argv
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(expected(sf_dir, scratch, ops)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
