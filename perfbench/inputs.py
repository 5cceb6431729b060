"""Seeded input generator for the benchmark.

The program under test only ever sees the parquet file written here: a
key table shaped like TPC-H ``lineitem`` (the columns ``points_df``
reads: ``l_orderkey``, ``l_linenumber``, ``l_quantity``), which every
workload geocodes.

Keys stay small: the geocoder hashes ``key * 3266489917`` in a signed
long and Spark's ANSI mode raises on overflow, so
``key = l_orderkey * 8 + l_linenumber`` must stay below 2**63 / 3266489917.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: largest key the geocoder hash can take without overflowing a long
MAX_KEY = (2 ** 63 - 1 - 668265263) // 3266489917

#: row groups per file, so a local[4] scan splits into parallel tasks
ROW_GROUPS = 8


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp,
                   row_group_size=-(-table.num_rows // ROW_GROUPS))
    os.replace(tmp, path)


def lineitem(seed: int, n_rows: int) -> pa.Table:
    """TPC-H-shaped keys: orders carry 1..7 lines, order keys are sparse
    (8 used keys in every 32, as dbgen makes them) from a seeded base."""
    rng = np.random.default_rng([seed, 1])
    lines = rng.integers(1, 8, size=n_rows // 2 + 8)
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, n_rows)) + 1
    lines = lines[:n_orders]
    lines[-1] -= int(ends[n_orders - 1]) - n_rows
    base = int(rng.integers(0, 2 ** 20)) * 32
    i = np.arange(n_orders, dtype=np.int64)
    okeys = base + (i // 8) * 32 + (i % 8) + 1
    l_orderkey = np.repeat(okeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n_rows) - starts + 1).astype(np.int32)
    if int(l_orderkey.max()) * 8 + 7 > MAX_KEY:
        raise ValueError("generated key overflows the geocoder hash")
    return pa.table({
        "l_orderkey": l_orderkey,
        "l_linenumber": l_linenumber,
        "l_quantity": rng.integers(1, 51, size=n_rows).astype(np.float64),
    })


def write_inputs(input_dir: str, seed: int, pages: int) -> str:
    """Write ``<input_dir>/lineitem.parquet`` (the layout ``points_df``
    reads) and return its path."""
    os.makedirs(input_dir, exist_ok=True)
    path = os.path.join(input_dir, "lineitem.parquet")
    _write(lineitem(seed, pages), path)
    return path
