"""Seeded per-run inputs.

The committed base tables under ``perfbench/data/<scale>/`` are a copy of
the repository's test data at that scale. A run writes a copy whose rows are
permuted by the seed: same content, same one-file-per-table layout, same
codec, format version and row-group size. Only the row order changes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def make_inputs(base_dir: str, out_dir: str, seed: int) -> dict[str, dict[str, int]]:
    """Write every base table to ``out_dir`` with its rows permuted by
    ``seed``; return ``{table: {"rows": n, "bytes": size}}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sizes = {}
    for t in TABLES:
        src = pq.ParquetFile(os.path.join(base_dir, f"{t}.parquet"))
        md = src.metadata
        table = src.read()
        dst = os.path.join(out_dir, f"{t}.parquet")
        pq.write_table(
            table.take(rng.permutation(table.num_rows)),
            dst,
            compression=md.row_group(0).column(0).compression.lower(),
            version=md.format_version,
            row_group_size=max(1, md.row_group(0).num_rows),
        )
        sizes[t] = {"rows": table.num_rows, "bytes": os.path.getsize(dst)}
    return sizes
