"""Seeded benchmark inputs.

Each run's tables are a seeded row permutation of the sf0.01 fixtures
kept in ``perfbench/data``: the same rows and the same parquet schema, in
an order fixed by the seed. The order moves filekafka offsets and
segments, micro-batch contents and scan partition layout; the result of
every registry query is unchanged, so one DuckDB twin answer holds for
all seeds.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def fixture_path(table: str) -> str:
    return os.path.join(DATA_DIR, f"{table}.parquet")


def write_permuted(tables: tuple[str, ...], seed: int, out_dir: str) -> None:
    """Write ``<out_dir>/<table>.parquet`` for each table, rows permuted
    by ``seed`` (one row group, like the fixtures)."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        table = pq.read_table(fixture_path(name))
        # one stream per table: a table's order depends on the seed only
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        perm = rng.permutation(table.num_rows)
        pq.write_table(
            table.take(perm),
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
