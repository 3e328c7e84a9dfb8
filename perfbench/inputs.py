"""Seeded inputs: a row-permuted copy of every table of the bundled data.

The copy keeps the rows, the parquet column types and the directory
basename (``sf0.01``): the engine reads the scale factor from that
basename.  The same seed gives the same copy.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def make_inputs(out_root: str, seed: int, src_dir: str = DATA_DIR) -> str:
    out = os.path.join(out_root, os.path.basename(src_dir))
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(src_dir)):
        src = os.path.join(src_dir, name)
        table = pq.read_table(src)
        dst = os.path.join(out, name)
        pq.write_table(table.take(rng.permutation(table.num_rows)), dst)
        if pq.ParquetFile(dst).schema != pq.ParquetFile(src).schema:
            raise RuntimeError(f"{name}: parquet types changed in the seeded copy")
    return out
