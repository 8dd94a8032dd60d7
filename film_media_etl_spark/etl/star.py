"""Star-schema ETL pipeline — the engine's re-expression of the reference's
warehouse load (` loadAnalyticsDB...R`:532-558 main()).

Mapping of the driver testdata onto the reference's two-source star schema
(FIXTURES.md §A):

- "film" customer source  = customer ⋈ nation ⋈ region (geo chain like
  customer ⋈ address ⋈ city ⋈ country, ` loadAnalyticsDB...R`:229-232)
- "music" customer source = supplier ⋈ nation ⋈ region, IDs offset +10000
  (cross-source key-space collision fix, ` loadAnalyticsDB...R`:256)
- products = part (film side; substr-truncated names, ` load...R`:358)
- fact grain = one row per lineitem (one row per transaction, README:129)

Design decisions vs the reference:

- Surrogate keys are deterministic ``row_number()`` over a canonical sort
  (reference: MySQL AUTO_INCREMENT). NOT monotonically_increasing_id —
  that is partition-dependent and breaks reproducible oracle checks.
  dim_location (bounded by geography) uses a plain global window; the
  customer and product dims and the FACT key use ``_global_index`` — a
  bucketed global row number over collected per-bucket counts
  (``prepare_global_index``) that sorts bucket-partitioned in parallel
  instead of collapsing the table to a single partition (see its
  docstring). The testdata's lineitem has
  no unique natural key (verified: (l_orderkey, l_linenumber) has dups),
  so the fact key orders by every column — deterministic even under
  full-row duplicates.
- The per-row R which() lookups (` loadAnalyticsDB...R`:469-480, the O(n·m)
  hot path) become broadcast hash joins with COALESCE fallbacks:
  location/product fall back to key 1, customer to NULL (` load...R`:
  472,476,480).
- The NULL-tolerant location match keeps the reference's asymmetry: the
  DIMENSION side carries the NULL wildcard (dl.city = f.city OR dl.city IS
  NULL; same for state), ` loadAnalyticsDB...R`:469-472.
- revenue_ytd/qtd/mtd + units_ytd/qtd/mtd are POPULATED (the reference
  declares them, createStarSchema...R:153-158, but never fills them).
  Cumulative windows partition by year[/quarter/month] ordered by
  (date_key, fact_key). SCALE NOTE: partition-by-year is a skewed window
  at 100 TB — the scalable variant pre-aggregates per (year, month, day)
  then prefix-sums the daily totals (documented, not needed at test SF).
- Dedup-on-load for dim_location via union+distinct (INSERT IGNORE
  semantics, createStarSchema...R:97).

Every builder returns a DataFrame (the customer and product dims and the
fact collect their index stats first); ``STAR_CTES`` is the DuckDB-SQL
twin of the whole pipeline so any star query is oracle-checkable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.dates import month_name, smart_date_key, week_of_year_noniso
from ..functions.money import AGG_DECIMAL, ROW_DECIMAL, dec
from ..sources import load_table
from .reference_semantics import fact_key_columns, offset_music_id, resolve_fact_keys

# _global_index's stats: (lo, span, cumulative bucket offsets, total rows).
IndexStats = tuple[int, int, dict[int, int], int]

# ---------------------------------------------------------------------------
# Spark builders
# ---------------------------------------------------------------------------


def _geo_chain(spark: SparkSession, sf_dir: str, entity: str) -> DataFrame:
    """customer/supplier ⋈ nation ⋈ region -> (id, name, city, country)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    if entity == "film":
        e = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("nationkey"),
        )
    else:  # music source: suppliers, +10000 ID offset
        e = load_table(spark, sf_dir, "supplier").select(
            offset_music_id(F.col("s_suppkey")).alias("customer_id"),
            F.col("s_name").alias("name"),
            F.col("s_nationkey").alias("nationkey"),
        )
    return (
        e.join(F.broadcast(n), e.nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "customer_id",
            "name",
            F.lit(entity).alias("customer_type"),
            F.col("n_name").alias("city"),
            F.col("r_name").alias("country"),
            F.lit(None).cast("string").alias("state"),
        )
    )


def build_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_date: spine over [min(o_orderdate)-30, max+30] with the full
    attribute set incl. smart key and NON-ISO week (createStarSchema...R:
    59-71; ` loadAnalyticsDB...R`:56-137)."""
    o = load_table(spark, sf_dir, "orders")
    # The date range is never collected: exploding the sequence directly
    # over the 1-row min/max aggregate keeps the whole dim one Spark job.
    spine = o.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    ).select(
        F.explode(
            F.sequence(
                F.date_sub(F.col("lo").cast("date"), 30),
                F.date_add(F.col("hi").cast("date"), 30),
                F.expr("interval 1 day"),
            )
        ).alias("date")
    )
    d = F.col("date")
    return spine.select(
        smart_date_key(d).alias("date_key"),
        d,
        F.year(d).alias("year"),
        F.quarter(d).alias("quarter"),
        F.month(d).alias("month"),
        month_name(d).alias("month_name"),
        F.dayofmonth(d).alias("day"),
        week_of_year_noniso(d).alias("week"),
    )


def customer_index_keys(spark: SparkSession, sf_dir: str) -> list[tuple[DataFrame, str]]:
    """The key-distribution plans feeding dim_customer's two
    surrogate-key indexes, as ``prepare_global_index`` pairs (film, then
    music): each source's ids semi-joined against the geo chain's
    dimension keys — exactly the rows the inner joins keep, at 1-column
    scan cost — instead of the 4-way join itself."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    valid_nations = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey, "left_semi"
    ).select("n_nationkey")
    film_ids = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(valid_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select(F.col("c_custkey").alias("_sort_id"))
    )
    music_ids = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(valid_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select(offset_music_id(F.col("s_suppkey")).alias("_sort_id"))
    )
    return [(film_ids, "_sort_id"), (music_ids, "_sort_id")]


def build_dim_customer(
    spark: SparkSession,
    sf_dir: str,
    *,
    index_stats: list[IndexStats] | None = None,
) -> DataFrame:
    """dim_customer: film ∪ music customers with surrogate keys in source
    load order (film block first, like the reference's sequential load,
    ` loadAnalyticsDB...R`:215-302). ``index_stats`` is
    ``prepare_global_index`` over ``customer_index_keys`` (film, music);
    it is collected here when not given."""
    both = _geo_chain(spark, sf_dir, "film").unionByName(_geo_chain(spark, sf_dir, "music"))
    # Surrogate keys in (customer_type, customer_id) order WITHOUT a
    # single-partition global window (#customers at warehouse scale is
    # dim-sized but unbounded). Each source is indexed over ITS OWN key
    # range and the music block is offset by the film row count —
    # equivalent to one row_number over the two-column sort ('film' <
    # 'music', ids unique per source). NOT a single index over
    # sort_id = id + (music ? 2^40 : 0): a uniform bucket split over a
    # range dominated by the 2^40 type offset puts every film row in
    # bucket 0 and every music row in the last bucket — two
    # single-partition sorts, exactly the bottleneck _global_index exists
    # to remove. Per-source ranges are dense, so the buckets stay
    # balanced within each source.
    if index_stats is None:
        index_stats = prepare_global_index(customer_index_keys(spark, sf_dir))
    film_stats, music_stats = index_stats
    film_keyed = _global_index(
        both.where(F.col("customer_type") == "film"),
        ["customer_id"],
        "customer_id",
        film_stats,
        out_col="customer_key",
    )
    music_keyed = _global_index(
        both.where(F.col("customer_type") == "music"),
        ["customer_id"],
        "customer_id",
        music_stats,
        out_col="customer_key",
    ).withColumn("customer_key", F.col("customer_key") + F.lit(film_stats[3]))
    return film_keyed.unionByName(music_keyed).select(
        F.col("customer_key").cast("int").alias("customer_key"),
        "customer_id",
        "name",
        "country",
        "city",
        "state",
        "customer_type",
    )


def build_dim_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_location: union+distinct of both sources' (country, city, state)
    — dedup-on-load (INSERT IGNORE vs unique_location, createStarSchema...R:
    97) — plus the fallback 'Unknown' row at location_key 1
    (` loadAnalyticsDB...R`:472)."""
    both = _geo_chain(spark, sf_dir, "film").unionByName(_geo_chain(spark, sf_dir, "music"))
    locs = both.select("country", "city", "state").distinct()
    # Global window is safe HERE only: the location dim is bounded by the
    # world's (country, city) cardinality — thousands of rows at any data
    # scale, unlike customer/product dims (see their _global_index path).
    w = Window.orderBy("country", "city")
    ranked = locs.select(
        (F.row_number().over(w) + F.lit(1)).alias("location_key"),
        "country",
        "city",
        "state",
    )
    unknown = spark.range(1).select(
        F.lit(1).alias("location_key"),
        F.lit("Unknown").alias("country"),
        F.lit(None).cast("string").alias("city"),
        F.lit(None).cast("string").alias("state"),
    )
    return unknown.unionByName(ranked)


def build_dim_product(
    spark: SparkSession,
    sf_dir: str,
    *,
    index_stats: IndexStats | None = None,
) -> DataFrame:
    """dim_product from part: truncated names (substr 1..255,
    ` loadAnalyticsDB...R`:358), brand as category, genre NULL (film side
    of createStarSchema...R:102-112). ``index_stats`` is
    ``prepare_global_index`` over ``part.p_partkey``; it is collected
    here when not given."""
    p = load_table(spark, sf_dir, "part")
    # Parallel surrogate keys (see build_dim_customer) — the product dim
    # is catalog-sized, the one dim most likely to outgrow a single
    # partition at warehouse scale.
    if index_stats is None:
        index_stats = prepare_global_index(p.select("p_partkey"), "p_partkey")
    return _global_index(p, ["p_partkey"], "p_partkey", index_stats, out_col="_pk").select(
        F.col("_pk").cast("int").alias("product_key"),
        F.col("p_partkey").alias("product_id"),
        F.substring("p_name", 1, 255).alias("product_name"),
        F.col("p_type").alias("product_type"),
        F.col("p_brand").alias("category"),
        F.lit(None).cast("string").alias("genre"),
    )


def _global_index(
    df: DataFrame,
    order_cols: list[str],
    leading_key: str,
    stats: IndexStats,
    *,
    out_col: str = "_idx",
) -> DataFrame:
    """Deterministic global row_number over ``order_cols``, computed in
    parallel — the scale-safe replacement for a global (single-partition)
    window.

    ``stats`` is ``prepare_global_index``'s (lo, span, offsets, total)
    over ``leading_key``. Because ``leading_key`` is the first column of
    the canonical order, ``bucket = floor((key - lo) / span)`` is
    monotone in that order and ties (equal keys) always land in the same
    bucket. The global index is then  offset(bucket) + row_number within
    bucket  — bit-identical to ``ROW_NUMBER() OVER (ORDER BY
    order_cols)``, but the sort runs hash-partitioned on the bucket
    instead of on one partition, and the offsets are literals, so the
    indexed plan carries no auxiliary aggregate. The result does not
    depend on the bucket mapping — pinned by
    tests/test_function_models.py::test_global_index_invariant_to_nbuckets.
    A row whose leading key is NULL is kept with a NULL index."""
    lo, span, offsets = stats[0], stats[1], stats[2]
    if not offsets:  # empty input: emit the schema, no rows to index
        return df.withColumn(out_col, F.lit(None).cast("long"))
    dfb = df.withColumn("_bucket", _bucket(F.col(leading_key), lo, span))
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_bucket").orderBy(*order_cols)
    return dfb.withColumn(
        out_col, (omap[F.col("_bucket")] + F.row_number().over(w)).cast("long")
    ).drop("_bucket")


def _bucket(key, lo: int, span: int):
    """The index bucket of ``key``, computed in the key's own type (a
    decimal key buckets by its exact value); NULL for a NULL key."""
    return F.floor((key - F.lit(lo)) / F.lit(span)).cast("int")


def prepare_global_index(
    sdf: DataFrame | list[tuple[DataFrame, str]],
    leading_key: str | None = None,
    *,
    nbuckets: int = 64,
) -> IndexStats | list[IndexStats]:
    """Collect ``_global_index``'s stats over ``sdf[leading_key]`` and
    return (lo, span, cumulative offsets, total rows). ``sdf`` must hold
    exactly the leading keys of the rows to be indexed; any plan with
    that key multiset will do (e.g. a key-only semi-join instead of a
    full-width join). At cluster scale raise ``nbuckets`` to ~2-3x total
    cores.

    Called with a list of ``(frame, leading_key)`` pairs instead, it
    returns one stats tuple per pair, in order — exactly what a call per
    pair returns.

    Either way it runs two Spark actions in all, however many keys: the
    key ranges (one row) and then the per-bucket counts (<= nbuckets + 1
    rows per key) to the driver. With AQE each action is a shuffle-stage
    job plus a result job, and each broadcast in a key plan adds one:
    build_star's four keys take 10 jobs, against 26 for a call per key.

    NULL keys get no bucket and are not counted in ``total``. An EMPTY
    (or all-NULL) input returns (0, 1, {}, 0) rather than raising —
    reachable from thread-pooled callers where a TypeError would surface
    only at .result(); when every input is empty the second action is
    skipped."""
    pairs = sdf if leading_key is None else [(sdf, leading_key)]
    # Action 1: every key's min and max in one row. Pair i fills column
    # _k{i} and NULLs the others, so each key keeps its own type.
    types = [df.schema[key].dataType for df, key in pairs]
    spread = [
        df.select(
            *[
                (F.col(key) if j == i else F.lit(None).cast(t)).alias(f"_k{j}")
                for j, t in enumerate(types)
            ]
        )
        for i, (df, key) in enumerate(pairs)
    ]
    ranges = reduce(DataFrame.unionAll, spread).agg(
        *[f(f"_k{i}") for i in range(len(pairs)) for f in (F.min, F.max)]
    ).first()
    lo_span: dict[int, tuple[int, int]] = {}
    for i in range(len(pairs)):
        lo, hi = ranges[2 * i], ranges[2 * i + 1]
        if lo is not None:
            lo_span[i] = (int(lo), max(1, ((int(hi) - int(lo)) // nbuckets) + 1))
    # Action 2: per-bucket counts of every non-empty key, tagged by pair.
    counts: dict[int, list[tuple[int, int]]] = {i: [] for i in lo_span}
    if lo_span:
        tagged = reduce(
            DataFrame.unionAll,
            [
                pairs[i][0].select(
                    F.lit(i).alias("_tag"), _bucket(F.col(pairs[i][1]), lo, span).alias("_bucket")
                )
                for i, (lo, span) in lo_span.items()
            ],
        )
        for row in tagged.groupBy("_tag", "_bucket").agg(F.count(F.lit(1)).alias("cnt")).collect():
            if row["_bucket"] is not None:
                counts[row["_tag"]].append((row["_bucket"], row["cnt"]))
    out: list[IndexStats] = []
    for i in range(len(pairs)):
        if i not in lo_span:
            out.append((0, 1, {}, 0))
            continue
        offsets: dict[int, int] = {}
        acc = 0
        for b, cnt in sorted(counts[i]):
            offsets[b] = acc
            acc += cnt
        out.append((*lo_span[i], offsets, acc))
    return out if leading_key is None else out[0]


# Canonical total order for the fact surrogate key: every lineitem column,
# so row_number is deterministic even under full-row duplicates (the
# testdata has duplicate (l_orderkey, l_linenumber) pairs — verified).
_FACT_ORDER = [
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_suppkey",
    "l_shipdate",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
]


def fact_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The key-distribution plan feeding the fact's surrogate-key index:
    lineitem's key column semi-joined against orders keys — exactly the
    rows the fact's inner join keeps, at 1-column scan cost. Exposed so
    build_star can run prepare_global_index on it CONCURRENTLY with the
    dim loads (it depends on no dim)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return li.select("l_orderkey").join(
        F.broadcast(o.select("o_orderkey")),
        li.l_orderkey == o.o_orderkey,
        "left_semi",
    )


def build_fact_sales(
    spark: SparkSession,
    sf_dir: str,
    *,
    dim_customer: DataFrame | None = None,
    dim_location: DataFrame | None = None,
    dim_product: DataFrame | None = None,
    index_stats: IndexStats | None = None,
) -> DataFrame:
    """fact_sales: one row per lineitem with resolved dimension keys,
    denormalized pruning columns (year/quarter/month/product_type/country,
    createStarSchema...R:149-161 + README:130-134) and populated
    YTD/QTD/MTD cumulative measures (SURVEY op 27). ``index_stats`` is
    ``prepare_global_index`` over ``fact_index_stats``; it is collected
    here when not given."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    dc = (dim_customer or build_dim_customer(spark, sf_dir)).alias("dc")
    dl = (dim_location or build_dim_location(spark, sf_dir)).alias("dl")
    dp = (dim_product or build_dim_product(spark, sf_dir)).alias("dp")
    if index_stats is None:
        index_stats = prepare_global_index(fact_index_stats(spark, sf_dir), "l_orderkey")

    base = (
        _global_index(
            li.join(o, li.l_orderkey == o.o_orderkey),
            _FACT_ORDER,
            "l_orderkey",
            index_stats,
            out_col="fact_key",
        )
        .select(
            "fact_key",
            smart_date_key("o_orderdate").alias("date_key"),
            F.col("o_custkey").alias("customer_id"),
            F.col("l_partkey").alias("product_id"),
            F.col("l_quantity").cast("int").alias("units_sold"),
            dec(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), ROW_DECIMAL
            ).alias("revenue"),
            F.year("o_orderdate").alias("year"),
            F.quarter("o_orderdate").alias("quarter"),
            F.month("o_orderdate").alias("month"),
        )
        .alias("f")
    )

    # Dimension-key resolution: broadcast hash joins replacing the
    # reference's per-row which() scans — exact NULL/fallback semantics
    # live in etl.reference_semantics.resolve_fact_keys.
    resolved = resolve_fact_keys(base, dc, dl, dp).select(
        "f.fact_key",
        "f.date_key",
        *fact_key_columns(),
        "f.units_sold",
        "f.revenue",
        "f.year",
        "f.quarter",
        "f.month",
        F.col("dp.product_type").alias("product_type"),
        F.col("dc.country").alias("country"),
    )

    # To-date measures from ONE row-level window. A YTD window partitioned
    # by year caps parallelism at #years (~7) — at 100 TB those partitions
    # are unmergeable giants. Instead the row-level cumulative runs at the
    # FINEST grain (year, month) — 12x the parallelism, 1/12th the peak
    # partition — and the coarser QTD/YTD measures are reconstructed by
    # adding per-(year,month) totals of all *prior* months within the
    # quarter/year: a tiny aggregate (#year-months rows) cumulated
    # driver-free and broadcast back. Decimal addition is exact, so
    # mtd + prior-month-offset is bit-identical to the direct coarse
    # window, at any parallelism.
    frame = (Window.unboundedPreceding, Window.currentRow)
    w_m = Window.partitionBy("year", "month").orderBy("date_key", "fact_key").rowsBetween(*frame)
    with_mtd = resolved.withColumn(
        "revenue_mtd", F.sum("revenue").over(w_m).cast(AGG_DECIMAL)
    ).withColumn("units_mtd", F.sum("units_sold").over(w_m).cast("long"))

    # Offsets need only (period, revenue, units) of the same joined rows —
    # a narrow re-join that skips the surrogate-key window and dim lookups
    # entirely (3 columns of lineitem + 2 of orders, both scans pruned).
    month_totals = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.year("o_orderdate").alias("year"),
            F.quarter("o_orderdate").alias("quarter"),
            F.month("o_orderdate").alias("month"),
            dec(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), ROW_DECIMAL
            ).alias("_rev"),
            F.col("l_quantity").cast("int").alias("_units"),
        )
        .groupBy("year", "quarter", "month")
        .agg(F.sum("_rev").alias("_mrev"), F.sum("_units").alias("_munits"))
    )
    prior_q = Window.partitionBy("year", "quarter").orderBy("month").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prior_y = Window.partitionBy("year").orderBy("month").rowsBetween(
        Window.unboundedPreceding, -1
    )
    zero = F.lit(0).cast(AGG_DECIMAL)
    offsets = month_totals.select(
        "year",
        "month",
        F.coalesce(F.sum("_mrev").over(prior_q).cast(AGG_DECIMAL), zero).alias("_qoff_rev"),
        F.coalesce(F.sum("_munits").over(prior_q).cast("long"), F.lit(0)).alias("_qoff_units"),
        F.coalesce(F.sum("_mrev").over(prior_y).cast(AGG_DECIMAL), zero).alias("_yoff_rev"),
        F.coalesce(F.sum("_munits").over(prior_y).cast("long"), F.lit(0)).alias("_yoff_units"),
    )
    return (
        with_mtd.join(F.broadcast(offsets), ["year", "month"])
        .withColumn(
            "revenue_ytd", (F.col("revenue_mtd") + F.col("_yoff_rev")).cast(AGG_DECIMAL)
        )
        .withColumn("units_ytd", (F.col("units_mtd") + F.col("_yoff_units")).cast("long"))
        .withColumn(
            "revenue_qtd", (F.col("revenue_mtd") + F.col("_qoff_rev")).cast(AGG_DECIMAL)
        )
        .withColumn("units_qtd", (F.col("units_mtd") + F.col("_qoff_units")).cast("long"))
        .select(
            "fact_key",
            "date_key",
            "customer_key",
            "location_key",
            "product_key",
            "units_sold",
            "revenue",
            "year",
            "quarter",
            "month",
            "product_type",
            "country",
            "revenue_ytd",
            "revenue_qtd",
            "revenue_mtd",
            "units_ytd",
            "units_qtd",
            "units_mtd",
        )
    )


def build_sales_summary(fact: DataFrame) -> DataFrame:
    """sales_summary pre-aggregate — the reference CLAIMS this table
    (README.md:22,52,167: 'pre-aggregated sales_summary for common
    queries') but no code in the reference creates it (SURVEY §4.1
    discrepancy). Our engine honors the claim: one row per
    (year, quarter, month, product_type, country) with additive measures
    — the materialized-view grain every Rmd report rolls up from.
    build_star writes it once per build from the written fact, so the
    additive reports scan its rows (~2.4k at sf0.01) instead of the
    fact (60k); incremental maintenance is summary_support's job."""
    return (
        fact.groupBy("year", "quarter", "month", "product_type", "country")
        .agg(
            F.sum("revenue").cast(AGG_DECIMAL).alias("total_revenue"),
            F.sum("units_sold").cast("long").alias("total_units"),
            F.count(F.lit(1)).alias("n_transactions"),
            F.countDistinct("customer_key").alias("n_customers"),
        )
    )


SUMMARY_GRAIN = ["year", "quarter", "month", "product_type", "country"]


def summary_support(fact: DataFrame) -> DataFrame:
    """Finer-grain support materialization for INCREMENTAL sales_summary
    maintenance: per (grain, customer_key) additive partials.

    ``n_customers`` (COUNT DISTINCT) is not additive across increments,
    so the classic incremental-view-maintenance answer is a support
    table one level finer than the view: every summary measure becomes
    additive at (grain, customer) granularity, and the summary itself is
    a cheap rollup (count(*) of support rows IS the distinct-customer
    count). Support size is bounded by grain x active customers — far
    smaller than the fact, and each refresh touches only batch keys."""
    return fact.groupBy(*SUMMARY_GRAIN, "customer_key").agg(
        F.sum("revenue").cast(AGG_DECIMAL).alias("revenue"),
        F.sum("units_sold").cast("long").alias("units"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def merge_summary_support(snapshot: DataFrame | None, batch: DataFrame) -> DataFrame:
    """MERGE (SCD1 accumulate) a new batch of support partials into the
    snapshot: matched keys add, unmatched insert. Decimal adds keep the
    accumulation order-proof across any merge sequence."""
    if snapshot is None:
        return batch
    keys = [*SUMMARY_GRAIN, "customer_key"]
    s, b = snapshot.alias("s"), batch.alias("b")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"s.{k}").eqNullSafe(F.col(f"b.{k}"))
    return s.join(b, cond, "full_outer").select(
        *[F.coalesce(F.col(f"s.{k}"), F.col(f"b.{k}")).alias(k) for k in keys],
        (
            F.coalesce(F.col("s.revenue"), F.lit(0).cast(AGG_DECIMAL))
            + F.coalesce(F.col("b.revenue"), F.lit(0).cast(AGG_DECIMAL))
        ).cast(AGG_DECIMAL).alias("revenue"),
        (F.coalesce(F.col("s.units"), F.lit(0)) + F.coalesce(F.col("b.units"), F.lit(0)))
        .cast("long")
        .alias("units"),
        (F.coalesce(F.col("s.n_rows"), F.lit(0)) + F.coalesce(F.col("b.n_rows"), F.lit(0)))
        .cast("long")
        .alias("n_rows"),
    )


def summary_from_support(support: DataFrame) -> DataFrame:
    """Roll the support table up to the sales_summary grain — identical
    output schema to build_sales_summary (full recompute)."""
    return support.groupBy(*SUMMARY_GRAIN).agg(
        F.sum("revenue").cast(AGG_DECIMAL).alias("total_revenue"),
        F.sum("units").cast("long").alias("total_units"),
        F.sum("n_rows").cast("long").alias("n_transactions"),
        # one support row per distinct (grain, customer); count the KEY,
        # not the row — COUNT(DISTINCT customer_key) ignores NULL keys
        # (unresolved customers), and so must the rollup
        F.count(F.col("customer_key")).alias("n_customers"),
    )


_STAR_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}


def build_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Build every star table; memoized per (session, sf_dir).

    The six tables (four dims, the fact and sales_summary) are WRITTEN
    once to a session-scoped warehouse directory — the fact
    hive-partitioned by year — and all subsequent queries scan that
    parquet. This is the reference's actual architecture (reports
    query the loaded MySQL warehouse, not the ETL;
    BusinessAnalysis...Rmd:40-44) and the scale posture: the ETL runs
    once, the 15-report workload reads columnar warehouse files with
    partition pruning, instead of re-running the join+window pipeline per
    report (report r03's derived-table subquery would otherwise recompute
    the whole fact twice in one query).

    A build whose sources were already read in the session (a rebuild
    after clearing the memo) runs at most 40 Spark jobs — 38 at sf0.01
    and sf0.001, pinned by
    tests/test_plan_pins.py::test_star_rebuild_job_ceiling; a session's
    first build adds one schema-inference job per source table."""
    import os
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    # applicationId is unique per session lifetime; id(spark) could be
    # reused by a new session at the same address after stop().
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    if key not in _STAR_CACHE:
        base = os.path.join(
            tempfile.gettempdir(),
            f"fmes_warehouse_{os.getpid()}",
            os.path.basename(sf_dir.rstrip("/")),
        )

        def _write(name: str, df: DataFrame, partition_by: str | None = None) -> DataFrame:
            path = os.path.join(base, name)
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(path)
            # Read back with the KNOWN schema: skips the inference
            # file-listing pass, and an EMPTY input (no part files
            # written) still yields a correctly-shaped empty table
            # instead of an AnalysisException. Partition columns are
            # part of df.schema, so partitioned reads line up too.
            return spark.read.schema(df.schema).parquet(path)

        # Dims land first and the fact builds FROM the read-back parquet
        # dims — the warehouse load order (dims before facts,
        # ` loadAnalyticsDB...R`:main) and also the cheaper plan: the fact
        # job broadcasts three tiny parquet scans instead of re-running
        # each dim's join+window lineage inline.
        # One prepare_global_index call collects the stats of all four
        # surrogate keys (fact, film and music customers, product) in two
        # actions. It runs in the same pool as the four dim builds, which
        # are independent CONCURRENT Spark jobs (job submission is
        # thread-safe; the scheduler interleaves their stages): the date
        # and location dims build while the stats run, the customer and
        # product dims as soon as they land.
        index_keys = [
            (fact_index_stats(spark, sf_dir), "l_orderkey"),
            *customer_index_keys(spark, sf_dir),
            (load_table(spark, sf_dir, "part").select("p_partkey"), "p_partkey"),
        ]
        with ThreadPoolExecutor(max_workers=5) as pool:  # stats + 4 dims
            stats = pool.submit(prepare_global_index, index_keys)
            dim_builders = {
                "dim_date": lambda: build_dim_date(spark, sf_dir),
                "dim_customer": lambda: build_dim_customer(
                    spark, sf_dir, index_stats=stats.result()[1:3]
                ),
                "dim_location": lambda: build_dim_location(spark, sf_dir),
                "dim_product": lambda: build_dim_product(
                    spark, sf_dir, index_stats=stats.result()[3]
                ),
            }
            futures = {
                name: pool.submit(lambda n, b: _write(n, b()), name, builder)
                for name, builder in dim_builders.items()
            }
            tables = {name: fut.result() for name, fut in futures.items()}
            fact_stats = stats.result()[0]
        fact = build_fact_sales(
            spark,
            sf_dir,
            dim_customer=tables["dim_customer"],
            dim_location=tables["dim_location"],
            dim_product=tables["dim_product"],
            index_stats=fact_stats,
        )
        # NO repartition before the partitioned write: the MTD window
        # already leaves the fact hash-partitioned by (year, month),
        # which is year-clustered too — each writer task owns whole year
        # directories, just at month granularity (more files than one per
        # year, but no extra full-fact exchange, which costs more than the
        # extra files). This is also the cluster posture:
        # repartition("year") would collapse each year to ONE writer task
        # (7 hot tasks at any scale), while the (year, month) layout keeps
        # 12x the writer parallelism and still prunes cleanly. If file
        # counts ever matter more than the exchange, a REBALANCE(year)
        # hint is the knob.
        tables["fact_sales"] = _write("fact_sales", fact, partition_by="year")
        # The pre-aggregate derives from the materialized fact so it is
        # computed from warehouse parquet, not by re-running the ETL, and
        # is written once so every report scans its rows, not the fact.
        tables["sales_summary"] = _write("sales_summary", build_sales_summary(tables["fact_sales"]))
        _STAR_CACHE[key] = tables
    return _STAR_CACHE[key]


# ---------------------------------------------------------------------------
# DuckDB oracle twin: the same pipeline as a WITH-clause prefix
# ---------------------------------------------------------------------------

_FACT_ORDER_SQL = ", ".join(_FACT_ORDER)

STAR_CTES = f"""
film_cust AS (
  SELECT c.c_custkey AS customer_id, c.c_name AS name, 'film' AS customer_type,
         n.n_name AS city, r.r_name AS country, CAST(NULL AS VARCHAR) AS state
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
),
music_cust AS (
  SELECT s.s_suppkey + 10000 AS customer_id, s.s_name AS name, 'music' AS customer_type,
         n.n_name AS city, r.r_name AS country, CAST(NULL AS VARCHAR) AS state
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
),
all_cust AS (
  SELECT * FROM film_cust UNION ALL SELECT * FROM music_cust
),
dim_customer AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY customer_type, customer_id) AS INT) AS customer_key,
         customer_id, name, country, city, state, customer_type
  FROM all_cust
),
dim_location AS (
  SELECT 1 AS location_key, 'Unknown' AS country,
         CAST(NULL AS VARCHAR) AS city, CAST(NULL AS VARCHAR) AS state
  UNION ALL
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY country, city) + 1 AS INT) AS location_key,
         country, city, state
  FROM (SELECT DISTINCT country, city, state FROM all_cust)
),
dim_product AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) AS INT) AS product_key,
         p_partkey AS product_id, substr(p_name, 1, 255) AS product_name,
         p_type AS product_type, p_brand AS category, CAST(NULL AS VARCHAR) AS genre
  FROM part
),
dim_date AS (
  SELECT CAST(strftime(date, '%Y%m%d') AS INT) AS date_key, date,
         CAST(year(date) AS INT) AS year, CAST(quarter(date) AS INT) AS quarter,
         CAST(month(date) AS INT) AS month, monthname(date) AS month_name,
         CAST(dayofmonth(date) AS INT) AS day,
         CAST(((dayofyear(date) - 1) // 7) + 1 AS INT) AS week
  FROM (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date
    FROM (SELECT CAST(MIN(o_orderdate) AS DATE) - 30 AS lo,
                 CAST(MAX(o_orderdate) AS DATE) + 30 AS hi FROM orders)
  )
),
fact_base AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY {_FACT_ORDER_SQL}) AS BIGINT) AS fact_key,
         CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) AS date_key,
         o.o_custkey AS customer_id,
         l.l_partkey AS product_id,
         CAST(l.l_quantity AS INT) AS units_sold,
         CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,4)) AS revenue,
         CAST(year(o.o_orderdate) AS INT) AS year,
         CAST(quarter(o.o_orderdate) AS INT) AS quarter,
         CAST(month(o.o_orderdate) AS INT) AS month
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
fact_resolved AS (
  SELECT f.fact_key, f.date_key,
         dc.customer_key,
         COALESCE(dl.location_key, 1) AS location_key,
         COALESCE(dp.product_key, 1) AS product_key,
         f.units_sold, f.revenue, f.year, f.quarter, f.month,
         dp.product_type, dc.country
  FROM fact_base f
  LEFT JOIN dim_customer dc
    ON f.customer_id = dc.customer_id AND dc.customer_type = 'film'
  LEFT JOIN dim_location dl
    ON dl.country = dc.country
   AND (dl.city = dc.city OR dl.city IS NULL)
   AND (dl.state = dc.state OR dl.state IS NULL)
  LEFT JOIN dim_product dp ON f.product_id = dp.product_id
),
fact_sales AS (
  SELECT *,
    CAST(SUM(revenue) OVER (PARTITION BY year ORDER BY date_key, fact_key
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS revenue_ytd,
    CAST(SUM(revenue) OVER (PARTITION BY year, quarter ORDER BY date_key, fact_key
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS revenue_qtd,
    CAST(SUM(revenue) OVER (PARTITION BY year, month ORDER BY date_key, fact_key
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS revenue_mtd,
    CAST(SUM(units_sold) OVER (PARTITION BY year ORDER BY date_key, fact_key
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS units_ytd,
    CAST(SUM(units_sold) OVER (PARTITION BY year, quarter ORDER BY date_key, fact_key
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS units_qtd,
    CAST(SUM(units_sold) OVER (PARTITION BY year, month ORDER BY date_key, fact_key
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS units_mtd
  FROM fact_resolved
),
sales_summary AS (
  SELECT year, quarter, month, product_type, country,
         CAST(SUM(revenue) AS DECIMAL(38,4)) AS total_revenue,
         CAST(SUM(units_sold) AS BIGINT) AS total_units,
         COUNT(*) AS n_transactions,
         COUNT(DISTINCT customer_key) AS n_customers
  FROM fact_sales
  GROUP BY year, quarter, month, product_type, country
)
"""
