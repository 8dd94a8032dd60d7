"""Central registry mapping query names to Spark callables + DuckDB oracles.

The driver contract (__spark_entry__.py) is generated from this registry:
``queries()`` returns the callables, ``oracle_sql()`` the oracle strings for
every query that is ANSI-SQL-expressible (others get the driver's weaker
rows-only check).

Output-type convention (learned from round-1 correctness): DECIMAL stays an
*internal* representation only. Decimal addition is exact and associative, so
measures are quantized to DECIMAL before any SUM (order-insensitive across an
arbitrary parallel execution), but the final projection is cast to DOUBLE on
BOTH engines. Emitting decimals breaks the driver's order-insensitive value
hash: DuckDB's pandas/arrow bridge renders DECIMAL as float64 ("123.45")
while Spark renders Decimal("123.4500") — identical values, different
canonical strings. The registry enforces the convention mechanically:
``all_queries`` wraps every callable to cast residual decimal output columns
to double, and ``all_oracles`` wraps each oracle in a DESCRIBE-derived outer
SELECT applying the same casts, so hand-written queries cannot regress.

The decimal->double edge itself is engine-identical as long as the scaled
unscaled value fits in 2^53 (both engines then perform one correctly-rounded
conversion); internal scales are capped at <= 6 in the query layer to honor
that at correctness scale.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import TABLES

QueryFn = Callable[[SparkSession, str], DataFrame]

# Last sf_dir an actual driver query call passed in — the strongest signal
# for where the parquet layout really lives on this box (see
# _find_typing_dir; the driver's oracle_sql() call carries no directory).
_LAST_SF_DIR: str | None = None


def _has_all_tables(d: str) -> bool:
    return all(os.path.exists(os.path.join(d, f"{t}.parquet")) for t in TABLES)


def _find_typing_dir() -> str:
    """Locate a directory with all ten parquet tables for DESCRIBE-only
    oracle typing (plan-only — any scale factor works, no rows are read).

    Resolution order: explicit SPARK_GRAFT_ORACLE_SF (an invalid explicit
    setting RAISES — the caller asked for that dir specifically), then the
    sf_dir the driver most recently passed to a query call, then the bench
    dir (SPARK_GRAFT_SF_DIR), then the conventional /root/testdata scales,
    then any sf* sibling of those candidates. Round-3 advice: typing must
    not assume /root/testdata/sf0.01 exists on every box."""
    explicit = os.environ.get("SPARK_GRAFT_ORACLE_SF")
    if explicit:
        if _has_all_tables(explicit):
            return explicit
        raise RuntimeError(
            f"SPARK_GRAFT_ORACLE_SF={explicit} is missing some of "
            f"{TABLES}; point it at a directory holding all ten "
            "parquet tables (any scale factor — typing is DESCRIBE-only)."
        )
    candidates = [
        _LAST_SF_DIR,
        os.environ.get("SPARK_GRAFT_SF_DIR"),
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.1",
    ]
    import glob as _glob

    for c in list(candidates):
        if c:
            candidates.extend(sorted(_glob.glob(os.path.join(os.path.dirname(c.rstrip("/")), "sf*"))))
    seen: set[str] = set()
    for c in candidates:
        if not c or c in seen:
            continue
        seen.add(c)
        if _has_all_tables(c):
            return c
    raise RuntimeError(
        "oracle typing views unavailable: no directory with all of "
        f"{TABLES} found among {sorted(seen)}. Set "
        "SPARK_GRAFT_ORACLE_SF to one. Typing must not fail silently: the "
        "Spark side unconditionally casts decimal outputs to double, so an "
        "untyped oracle would hash-mismatch every decimal-output query."
    )


@dataclass(frozen=True)
class EngineQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered table views
    doc_override: str = ""

    @property
    def doc(self) -> str:
        # Resolved lazily so queries whose docstring interpolates module
        # constants (``fn.__doc__ = \"""...\""".format(...)`` AFTER the
        # def) are documented too — an eager capture at decoration time
        # reads None for those and COVERAGE.md silently loses the row's
        # rationale (round-6 fix; tests/test_registry_contract.py pins
        # every registered query to a nonempty doc).
        return self.doc_override or (self.fn.__doc__ or "")


_REGISTRY: dict[str, EngineQuery] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a query to the inventory."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = EngineQuery(name=name, fn=fn, oracle=oracle, doc_override=doc)
        return fn

    return deco


def get(name: str) -> EngineQuery:
    return _REGISTRY[name]


# Scale cap before the decimal->double edge. ROUND(decimal, n) is
# half-away-from-zero in BOTH engines (verified empirically; plain decimal
# down-CAST is not: DuckDB truncates, Spark rounds). Capping the scale keeps
# the unscaled value below 2^53 so the double conversion is a single
# correctly-rounded step in both engines.
_MAX_OUT_SCALE = 4


def _dec_scale(dtype: str) -> int:
    # "decimal(38,14)" -> 14
    try:
        return int(dtype.rstrip(")").split(",")[1])
    except (IndexError, ValueError):
        return 0


def _undecimal(df: DataFrame) -> DataFrame:
    """Cast any decimal output columns to double (see module doc)."""
    dtypes = dict(df.dtypes)
    if not any(t.startswith("decimal") for t in dtypes.values()):
        return df

    def conv(c: str):
        t = dtypes[c]
        if not t.startswith("decimal"):
            return F.col(c)
        col = F.col(c)
        if _dec_scale(t) > _MAX_OUT_SCALE:
            col = F.round(col, _MAX_OUT_SCALE)
        return col.cast("double").alias(c)

    return df.select(*[conv(c) for c in df.columns])


def _wrap_fn(fn: QueryFn) -> QueryFn:
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        global _LAST_SF_DIR
        if _has_all_tables(sf_dir):
            _LAST_SF_DIR = sf_dir
        return _undecimal(fn(spark, sf_dir))

    return wrapped


@functools.lru_cache(maxsize=1)
def _oracle_typing_connection():
    import duckdb

    typing_sf = _find_typing_dir()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{typing_sf}/{t}.parquet'")
    return con


def _undecimal_oracle(sql: str) -> str:
    """Wrap an oracle so decimal result columns come back as DOUBLE.

    Column types are discovered with a DESCRIBE (plan-only, reads no data).
    Typing failures RAISE rather than fall back: ``_wrap_fn`` always casts
    Spark-side decimals to double, so silently returning the untyped SQL
    here would make every decimal-output query hash-mismatch its oracle —
    a total, quiet correctness regression (round-2 advisory). A loud error
    at ``oracle_sql()`` time is diagnosable; a hash mismatch is not.
    """
    con = _oracle_typing_connection()
    try:
        cols = con.execute(f"DESCRIBE ({sql})").fetchall()
    except Exception as exc:  # noqa: BLE001
        raise RuntimeError(
            f"oracle DESCRIBE failed while typing decimal outputs: {exc}\nSQL: {sql[:500]}"
        ) from exc
    if not any(t.upper().startswith("DECIMAL") for _, t, *_ in cols):
        return sql

    def conv(c: str, t: str) -> str:
        if not t.upper().startswith("DECIMAL"):
            return f'"{c}"'
        expr = f'"{c}"'
        if _dec_scale(t.lower()) > _MAX_OUT_SCALE:
            expr = f"ROUND({expr}, {_MAX_OUT_SCALE})"
        return f'CAST({expr} AS DOUBLE) AS "{c}"'

    proj = ", ".join(conv(c, t) for c, t, *_ in cols)
    return f"SELECT {proj} FROM ({sql}) AS __undecimal"


def all_queries() -> dict[str, QueryFn]:
    return {q.name: _wrap_fn(q.fn) for q in _REGISTRY.values()}


def all_oracles() -> dict[str, str]:
    return {
        q.name: _undecimal_oracle(q.oracle) for q in _REGISTRY.values() if q.oracle is not None
    }
