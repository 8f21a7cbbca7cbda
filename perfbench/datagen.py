"""Seeded copies of the shipped fixture tables for the benchmark.

``fixtures/sf<sf>/`` holds the project's shipped fixture tables as they
are: the TPC-H-like star schema, the ``events`` stream table,
``documents`` and ``embeddings``, one parquet file per table. A seed
only permutes the row order of every table, so runs with different
seeds do the same work, and any query whose result depends on row order
shows as an oracle mismatch. Reading and rewriting with the same
pyarrow keeps every column's parquet physical and logical type.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every fixture table at scale factor ``sf``, rows permuted by
    ``seed``, to ``out_dir``. The directory appears only once complete,
    and an existing one is reused as is."""
    if os.path.isdir(out_dir):
        return
    src = os.path.join(FIXTURES, f"sf{sf:g}")
    if not os.path.isdir(src):
        raise SystemExit(f"no fixtures for scale factor {sf:g} in {FIXTURES}")
    tmp = f"{out_dir}.partial.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(src)):
        table = pq.read_table(os.path.join(src, name))
        shuffled = table.take(rng.permutation(table.num_rows))
        pq.write_table(shuffled, os.path.join(tmp, name), row_group_size=table.num_rows)
    os.replace(tmp, out_dir)
