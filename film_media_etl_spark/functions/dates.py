"""Date/calendar expression library.

Reproduces the reference's calendar semantics exactly (SURVEY §2.H):

- smart date key ``int(yyyyMMdd)`` (reference ` loadAnalyticsDB...R`:96,466)
- **non-ISO week**: lubridate ``week(d)`` = ``((dayofyear - 1) div 7) + 1``
  (reference ` loadAnalyticsDB...R`:103). Spark's ``weekofyear`` is ISO-8601
  and diverges at year boundaries — deliberately NOT used.
- English month names (reference ` loadAnalyticsDB...R`:101).
- date spine with ±buffer days (reference ` loadAnalyticsDB...R`:89-92).

All pure Column expressions — JVM-side, codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def smart_date_key(d: ColumnOrName) -> Column:
    """``date -> int yyyyMMdd`` surrogate key for dim_date."""
    return F.date_format(_col(d), "yyyyMMdd").cast("int")


def week_of_year_noniso(d: ColumnOrName) -> Column:
    """lubridate-style week: ((dayofyear-1) div 7) + 1; weeks 1..53,
    week 1 always starts Jan 1 regardless of weekday (non-ISO)."""
    return (F.floor((F.dayofyear(_col(d)) - F.lit(1)) / F.lit(7)) + F.lit(1)).cast("int")


def month_name(d: ColumnOrName) -> Column:
    """Full English month name ('January'...). Locale-pinned by the session
    (UTC / root locale), matching DuckDB ``monthname``."""
    return F.date_format(_col(d), "MMMM")


def date_spine(
    spark: SparkSession,
    start: Column,
    end: Column,
    *,
    buffer_days: int = 30,
) -> DataFrame:
    """Row generator: one row per calendar day in [start-buffer, end+buffer].

    ``start``/``end`` are scalar Columns (e.g. from an agg row). Built with
    ``explode(sequence(...))`` — distributed row generation, no driver loop.
    """
    bounds = spark.range(1).select(
        F.date_sub(start.cast("date"), buffer_days).alias("lo"),
        F.date_add(end.cast("date"), buffer_days).alias("hi"),
    )
    return bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 day"))).alias("date")
    )
