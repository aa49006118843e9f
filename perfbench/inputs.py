"""Seeded benchmark inputs.

The source tables under ``perfbench/data/<scale>/`` are copies of the
repo's synthetic test tables (see ``TESTDATA.md``); they are never
modified. A seed draws one row order per table, and the permuted table is
written as one parquet file with one row group -- the layout the engine's
reader keys its small-scan split on. Physical types are preserved (the
arrow schema travels with the table), so timestamps keep their unit.

Because a seed only reorders rows, every query's canonical result is the
same for every seed; ``expected.json`` therefore holds one value hash per
query and scale.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def source_dir(scale: str) -> str:
    return os.path.join(DATA_DIR, scale)


def _table_seed(seed: int, name: str) -> int:
    # Independent, stable stream per (seed, table): the row order of one
    # table does not depend on which other tables exist.
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return int.from_bytes(digest[:8], "little")


def generate(scale: str, seed: int, out_dir: str) -> str:
    """Write every source table of ``scale`` with a seed-drawn row order
    into ``out_dir``; return ``out_dir``. Same seed, same bytes."""
    os.makedirs(out_dir, exist_ok=True)
    src = source_dir(scale)
    for name in TABLES:
        f = pq.ParquetFile(os.path.join(src, f"{name}.parquet"))
        table = f.read()
        rng = np.random.default_rng(_table_seed(seed, name))
        table = table.take(rng.permutation(table.num_rows))
        compression = f.metadata.row_group(0).column(0).compression
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression=compression.lower(),
            version=f.metadata.format_version,
        )
    return out_dir
