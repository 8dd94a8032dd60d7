"""Warehouse maintenance operators: SCD1 merge-upsert, referential-
integrity audit, distribution window functions, and fold-based EWMA.

The reference maintains its warehouse with INSERT IGNORE and full
reloads ( loadAnalyticsDB...R:106-134 — there is no UPDATE path at all,
SURVEY §4.1); these ops supply the maintenance surface a long-lived
warehouse actually needs. MERGE semantics follow the ANSI/Delta shape
(update-when-matched, insert-when-not) expressed as a full outer join —
the strategy Spark executes as one shuffle per side, with the update set
broadcast when small.

The EWMA op demonstrates the engine's policy for inherently sequential
per-key computations: collect the (small, bounded) ordered series per
key and fold it with a JVM higher-order aggregate — never a Python UDF,
never a driver loop. DuckDB's list_reduce seeds the fold with the first
element, so the Spark side folds slice(2..) over element_at(1) to keep
the float operation order bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import register


# ---------------------------------------------------------------------------
# SCD1 MERGE / upsert
# ---------------------------------------------------------------------------

# The update batch is derived deterministically from the snapshot itself:
# every 7th customer gets a +100.00 balance correction (matched/update);
# every 97th is re-keyed +1,000,000 to simulate a late-arriving insert.
_UPD_FILTER = "c_custkey % 7 = 0"
_INS_FILTER = "c_custkey % 97 = 0"


@register(
    "ext_merge_upsert",
    oracle=f"""
    WITH updates AS (
      SELECT c_custkey AS key, CAST(c_acctbal + 100.0 AS DOUBLE) AS acctbal,
             c_mktsegment FROM customer WHERE {_UPD_FILTER}
      UNION ALL
      SELECT c_custkey + 1000000 AS key, CAST(0.0 AS DOUBLE) AS acctbal,
             'NEW' AS c_mktsegment FROM customer WHERE {_INS_FILTER}
    )
    SELECT COALESCE(u.key, c.c_custkey) AS c_custkey,
           COALESCE(u.acctbal, c.c_acctbal) AS c_acctbal,
           COALESCE(u.c_mktsegment, c.c_mktsegment) AS c_mktsegment,
           CASE WHEN c.c_custkey IS NULL THEN 'inserted'
                WHEN u.key IS NULL THEN 'unchanged'
                ELSE 'updated' END AS merge_action
    FROM customer c FULL OUTER JOIN updates u ON c.c_custkey = u.key
    """,
)
def ext_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 MERGE: apply an update/insert batch to the customer snapshot
    — update-when-matched, insert-when-not-matched, pass-through
    otherwise, each row tagged with its merge action. Expressed as a full
    outer join + coalesce (exactly what Delta's MERGE lowers to when the
    whole table rewrites); at 100 TB the batch side is typically <<1% of
    the snapshot and broadcasts, turning MERGE into a map-side stitch of
    the unchanged partitions. The reference has no update path at all —
    its warehouse can only INSERT IGNORE or reload (SURVEY §4.1)."""
    c = load_table(spark, sf_dir, "customer")
    updates = (
        c.where(F.expr(_UPD_FILTER)).select(
            F.col("c_custkey").alias("key"),
            (F.col("c_acctbal") + F.lit(100.0)).alias("acctbal"),
            "c_mktsegment",
        )
    ).unionByName(
        c.where(F.expr(_INS_FILTER)).select(
            (F.col("c_custkey") + F.lit(1_000_000)).alias("key"),
            F.lit(0.0).alias("acctbal"),
            F.lit("NEW").alias("c_mktsegment"),
        )
    )
    u = updates.alias("u")
    base = c.alias("c")
    return base.join(u, F.col("c.c_custkey") == F.col("u.key"), "full_outer").select(
        F.coalesce(F.col("u.key"), F.col("c.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("u.acctbal"), F.col("c.c_acctbal")).alias("c_acctbal"),
        F.coalesce(F.col("u.c_mktsegment"), F.col("c.c_mktsegment")).alias(
            "c_mktsegment"
        ),
        F.when(F.col("c.c_custkey").isNull(), "inserted")
        .when(F.col("u.key").isNull(), "unchanged")
        .otherwise("updated")
        .alias("merge_action"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit
# ---------------------------------------------------------------------------


@register(
    "ext_fk_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer->nation', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'nation->region', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def ext_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the full FK chain: for each
    relationship, total child rows and orphan count (child key with no
    parent). The reference trusts MySQL FK constraints to enforce this at
    insert time (createStarSchema...R:163-172); a parquet lake has no
    constraints, so the audit query IS the constraint. Each check is a
    left join probing a smaller parent — parent sides broadcast, and the
    orphan counts collapse map-side before the union of four 1-row
    aggregates."""

    def check(child: DataFrame, parent: DataFrame, ck: str, pk: str, name: str) -> DataFrame:
        j = child.join(parent, child[ck] == parent[pk], "left")
        return j.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(parent[pk].isNull(), 1).otherwise(0)).alias("n_orphans"),
        ).select("fk", "n_rows", "n_orphans")

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        check(li, o, "l_orderkey", "o_orderkey", "lineitem->orders")
        .unionByName(check(o, c, "o_custkey", "c_custkey", "orders->customer"))
        .unionByName(check(c, n, "c_nationkey", "n_nationkey", "customer->nation"))
        .unionByName(check(n, r, "n_regionkey", "r_regionkey", "nation->region"))
    )


# ---------------------------------------------------------------------------
# Distribution window functions
# ---------------------------------------------------------------------------


@register(
    "ext_window_distribution",
    oracle="""
    SELECT event_id, event_type, value,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume_d
    FROM events
    WHERE user_id < 300
    WINDOW w AS (PARTITION BY event_type ORDER BY value)
    """,
)
def ext_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of each event's value within its type —
    the normalized-score transform feature pipelines use for rank-based
    calibration. Unlike row_number, both functions are TIE-STABLE: equal
    values get equal scores regardless of physical order, so no tiebreak
    column is needed for determinism. One exchange on event_type."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_d"),
    )


# ---------------------------------------------------------------------------
# Fold-based EWMA (inherently sequential per-key computation)
# ---------------------------------------------------------------------------


@register(
    "ext_ewma",
    oracle="""
    WITH s AS (
      SELECT user_id,
             list(value ORDER BY epoch(CAST(ts AS TIMESTAMP)), event_id) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
           list_reduce(vs, (acc, x) -> 0.8 * acc + 0.2 * x) AS ewma
    FROM s
    """,
)
def ext_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha=0.2) of each user's
    value series — the canonical computation that CANNOT be a window
    frame (every prefix depends on the full history). Engine policy for
    sequential per-key math: collect the bounded per-key series, sort
    once, fold with the JVM aggregate() HOF — no Python UDF, no
    iteration, one shuffle on user_id. The fold seeds with the first
    element and folds the rest (exactly DuckDB's list_reduce), so both
    engines execute the identical double-op sequence. At 100 TB the
    per-key series must be bounded (here: events per user); unbounded
    keys would move to the streaming stateful path
    (streaming.windows.stream_stateful_user_totals)."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.unix_timestamp("ts").alias("sec"),
                    F.col("event_id").alias("eid"),
                    F.col("value").alias("v"),
                )
            )
        ).alias("series")
    )
    vals = F.transform(F.col("series"), lambda s_: s_["v"])
    return s.select(
        "user_id",
        F.size("series").cast("long").alias("n_events"),
        F.aggregate(
            F.slice(vals, 2, F.size(vals) - 1),
            F.element_at(vals, 1),
            lambda acc, x: F.lit(0.8) * acc + F.lit(0.2) * x,
        ).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Equal-frequency binning (quantile buckets)
# ---------------------------------------------------------------------------


@register(
    "ext_quantile_buckets",
    oracle="""
    WITH r AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
             AS total_price
    FROM r GROUP BY decile
    """,
)
def ext_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning: decile buckets of order value via ntile
    over a total (price, key) order, summarized per bucket — the
    feature-engineering twin of ext_histogram's equal-WIDTH bins (skewed
    data fills quantile bins evenly where fixed-width bins collapse).
    The global ntile is the one operation here that needs a total order;
    at 100 TB swap it for approx_percentile cut points + a map-side
    bucket join — same output contract, no global sort. Tiebreak on
    o_orderkey makes bucket assignment deterministic under price ties."""
    o = load_table(spark, sf_dir, "orders")
    # ntile WITHOUT the single-partition global sort: ntile(k) is a pure
    # function of (global rank, N) — the first N%k tiles take N//k+1 rows,
    # the rest N//k — so a parallel global row index (bucketed range sort,
    # see etl.star._global_index) plus N reproduces it exactly at any
    # parallelism; N is the total the index stats already count. Rank
    # ties cannot occur (o_orderkey tiebreak).
    from ..etl.star import _global_index, prepare_global_index

    stats = prepare_global_index(o.select("o_totalprice"), "o_totalprice")
    q, rem = divmod(stats[3], 10)
    idx = _global_index(
        o.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        "o_totalprice",
        stats,
        out_col="_idx",
    )
    pivot = rem * (q + 1)
    decile = (
        F.when(F.col("_idx") <= F.lit(pivot), F.floor((F.col("_idx") - 1) / (q + 1)) + 1)
        .otherwise(F.lit(rem) + F.floor((F.col("_idx") - 1 - pivot) / max(q, 1)) + 1)
        .cast("int")
    )
    r = idx.select("o_totalprice", decile.alias("decile"))
    return r.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (additive MV refresh)
# ---------------------------------------------------------------------------

_CUTOFF = "1995-01-01"


@register(
    "ext_incremental_rollup",
    oracle=f"""
    SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_qty
    FROM lineitem GROUP BY 1, 2
    """,
)
def ext_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive materialized-view refresh: the (returnflag, ship-year)
    rollup is maintained by aggregating only the DELTA batch (shipdate
    >= cutoff) and merging it into the existing summary with a full-outer
    coalesce-sum — never rescanning history. The oracle is the full
    recompute, so the check proves refresh(old) + delta == recompute —
    the algebraic-aggregate property (SUM/COUNT are mergeable) that
    makes incremental warehouse maintenance correct. At 100 TB this is
    the difference between scanning one day and scanning ten years."""
    li = load_table(spark, sf_dir, "lineitem")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "l_returnflag", F.year("l_shipdate").alias("ship_year")
        ).agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("total_qty"),
        )

    existing = rollup(li.where(F.col("l_shipdate") < _CUTOFF))
    delta = rollup(li.where(F.col("l_shipdate") >= _CUTOFF))
    e, d = existing.alias("e"), delta.alias("d")
    keys_eq = (F.col("e.l_returnflag") == F.col("d.l_returnflag")) & (
        F.col("e.ship_year").eqNullSafe(F.col("d.ship_year"))
    )
    zero = F.lit(0).cast("decimal(38,2)")
    return e.join(d, keys_eq, "full_outer").select(
        F.coalesce(F.col("e.l_returnflag"), F.col("d.l_returnflag")).alias(
            "l_returnflag"
        ),
        F.coalesce(F.col("e.ship_year"), F.col("d.ship_year")).alias("ship_year"),
        (
            F.coalesce(F.col("e.n_lines"), F.lit(0))
            + F.coalesce(F.col("d.n_lines"), F.lit(0))
        ).alias("n_lines"),
        (F.coalesce(F.col("e.total_qty"), zero) + F.coalesce(F.col("d.total_qty"), zero))
        .cast("decimal(38,2)")
        .alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# Incremental sales_summary maintenance (reference README:22,52 claims the
# pre-aggregate; etl/star.py materializes it batch-only — this query proves
# the MERGE-maintained incremental path converges to the same table)
# ---------------------------------------------------------------------------


def _summary_incremental_oracle() -> str:
    from ..etl.star import STAR_CTES

    return f"WITH {STAR_CTES} SELECT * FROM sales_summary"


@register(
    "ext_summary_incremental_refresh",
    oracle=_summary_incremental_oracle(),
)
def ext_summary_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sales_summary maintained INCREMENTALLY and verified against the
    full-recompute oracle: the fact is replayed as three arrival batches
    (split orthogonally to the summary grain so every merge exercises
    the matched-accumulate path), each batch's support partials MERGE
    into the snapshot (etl.star.merge_summary_support), and the final
    summary is rolled up from the support table. COUNT DISTINCT customers
    is made additive by keeping the support one level finer — the
    textbook incremental-view-maintenance construction; at 100 TB each
    refresh touches only the partitions holding batch keys. The
    streaming twin (streaming.sinks.start_incremental_summary) feeds the
    same merge from micro-batches; tests pin both against the batch
    build."""
    from ..etl.star import (
        build_star,
        merge_summary_support,
        summary_from_support,
        summary_support,
    )

    fact = build_star(spark, sf_dir)["fact_sales"]
    support = None
    for i in range(3):
        inc = fact.where(F.coalesce(F.pmod(F.col("customer_key"), F.lit(3)), F.lit(0)) == i)
        support = merge_summary_support(support, summary_support(inc))
    return summary_from_support(support)
