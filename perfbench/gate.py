"""Correctness gate.

Two checks, both outside the timed region:

- **Oracle.** An op's collected output is compared to its DuckDB oracle
  (``all_oracles()``) on the same generated inputs through an
  order-insensitive canonical hash: columns sorted by name, cells
  canonicalized as ``tools/diff_oracle.py`` does, rows sorted.
- **Fingerprint.** Every execution of an op, timed ones included, carries
  a Spark-side fingerprint of its output (row count, sum and xor of a
  per-row xxhash64) computed by ``DataFrame.observe`` inside the same job.
  Each timed execution must reproduce the fingerprint of the execution the
  oracle checked; ops without an oracle must reproduce it on every pass.
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from .inputs import TABLES

# Largest prime below 2^32: keeps the per-row terms small enough that a
# long sum cannot overflow (ANSI mode raises on overflow).
_FP_MOD = 4294967291


def canon(v) -> str:
    """One cell, rendered the way ``tools/diff_oracle.py`` renders it."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def canonical_hash(cols: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of a result, independent of column and row order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256(repr(([cols[i] for i in order], body)).encode()).hexdigest()
    return len(body), digest[:16]


def fingerprint_exprs(df: DataFrame) -> list:
    """Order-insensitive aggregate fingerprint of ``df``'s rows."""
    cols = [
        F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, MapType)
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols)
    return [
        F.count(F.lit(1)).alias("fp_rows"),
        F.coalesce(F.sum(F.pmod(h, F.lit(_FP_MOD))), F.lit(0)).alias("fp_sum"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("fp_xor"),
    ]


def fingerprint(df: DataFrame) -> tuple[int, int, int]:
    """Run the fingerprint as its own aggregate job."""
    return tuple(df.agg(*fingerprint_exprs(df)).first())


def oracle_hashes(data_dir: str, sqls: dict[str, str]) -> dict[str, tuple[int, str] | str]:
    """Canonical hash of every oracle query over ``data_dir``; an oracle
    that raises maps to its error text."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    out: dict[str, tuple[int, str] | str] = {}
    for name, sql in sqls.items():
        try:
            res = con.execute(sql)
            out[name] = canonical_hash([d[0] for d in res.description], res.fetchall())
        except Exception as e:  # noqa: BLE001 - reported as a gate failure
            out[name] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return out
