"""The query workloads' input tables, derived from the seed.

``data/sf0.01/`` holds the ten tables ``__spark_entry__.queries()`` reads
(``region nation customer supplier part orders lineitem events documents
embeddings``): a byte-for-byte copy of the repository's sf0.01 testdata
(TESTDATA.md). A run reads them through :func:`write_inputs`, which writes
each table with its rows in a seeded order and its schema unchanged, so
the same seed gives the same files and every seed has the same rows,
types and value distributions.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def write_inputs(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table, rows permuted by ``seed``, to ``<out_dir>/<name>.parquet``;
    returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name in TABLES:
        table = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        pq.write_table(table.take(rng.permutation(table.num_rows)), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
