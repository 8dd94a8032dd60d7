"""Money / measure arithmetic conventions.

The reference keeps money in DECIMAL (createStarSchema...R:147,153-158) and
our DuckDB-oracle hash check demands *bit-identical* aggregates. Floating
sums are order-dependent — a parallel Spark sum over doubles and a DuckDB
sum can disagree in the last ulp. Convention used engine-wide:

1. Per-row arithmetic stays in double (IEEE ops are deterministic per row
   and identical across engines for the same expression shape).
2. Cast each row's measure to DECIMAL(18,4) *before* aggregating — decimal
   addition is exact and associative, so any parallel execution order gives
   the same result in both engines.
3. Widen the final aggregate to an explicit DECIMAL(38,4) so the output
   schema is pinned (Spark's sum(decimal) infers DECIMAL(28,4), DuckDB's
   DECIMAL(38,4)). Widening is exact; NEVER narrow the scale of an
   aggregate — DuckDB truncates on decimal down-casts while Spark rounds
   HALF_UP, which diverges (observed on this very dataset).

At 100 TB this also avoids cross-run drift in financial rollups.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Pre-aggregation cast scale: 4 decimal places absorbs the 2-dp money grain
# plus discount/tax multiplications.
ROW_DECIMAL = "decimal(18,4)"
AGG_DECIMAL = "decimal(38,4)"


def dec(c: Column, typ: str = ROW_DECIMAL) -> Column:
    return c.cast(typ)


def money_sum(c: Column, alias: str) -> Column:
    """Order-insensitive exact SUM of a double measure (see module doc)."""
    return F.sum(dec(c)).cast(AGG_DECIMAL).alias(alias)


def money_avg(c: Column, alias: str) -> Column:
    """AVG with an exact numerator: decimal sum cast to double, divided by
    count — one deterministic double division, identical across engines."""
    return (F.sum(dec(c)).cast("double") / F.count(F.lit(1))).alias(alias)
