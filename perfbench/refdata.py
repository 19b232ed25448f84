"""The benchmark's inputs: the package's reference tables at sf0.01.

``data/sf0.01/`` holds, unchanged, the four reference tables the
workloads read (``customer orders lineitem part``): the data the
registry queries and their DuckDB oracles are checked on.  They are
kept inside the benchmark so that it reads nothing outside its
checkout.  The seed never changes these tables; it chooses what the
workloads draw from them (stream orders, changed customers, corrected
order lines).
"""

from __future__ import annotations

import hashlib
import math
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
TABLES = ("customer", "orders", "lineitem", "part")


def load() -> dict[str, pa.Table]:
    return {t: pq.read_table(DATA / f"{t}.parquet") for t in TABLES}


def fingerprint() -> dict:
    """Size and content hash of every reference file."""
    h, n = hashlib.sha256(), 0
    for t in TABLES:
        data = (DATA / f"{t}.parquet").read_bytes()
        h.update(t.encode() + b"\0" + data)
        n += len(data)
    return {"dir": "perfbench/data/sf0.01", "bytes": n, "sha256": h.hexdigest()[:16]}


def write_table(table: pa.Table, path: str, rows_per_file: int) -> int:
    """Write ``table`` as a directory of parquet files of at most
    ``rows_per_file`` rows; returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    n_files = max(1, math.ceil(table.num_rows / rows_per_file))
    step = math.ceil(table.num_rows / n_files) or 1
    written = 0
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), f)
        written += os.path.getsize(f)
    return written


def write_layout(tables: dict[str, pa.Table], out_dir: str, rows_per_file: int) -> int:
    """Write every table as ``<out_dir>/<name>.parquet/part-*.parquet``
    (the multi-file layout the catalog and DuckDB both read)."""
    return sum(
        write_table(t, os.path.join(out_dir, f"{name}.parquet"), rows_per_file)
        for name, t in tables.items()
    )
