"""Scale-technique operators as oracle-checked queries.

Results are salt-invariant, so the DuckDB oracle is the PLAIN group-by:
a value-hash match proves the skew-proof plan computes the identical
aggregate. Sums run in DECIMAL so associativity is exact — a double sum
would drift with addition order across salt buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.skew import salted_aggregate
from ..sources import ensure_parallelism, load_table
from .registry import register


@register(
    "ext_cube",
    oracle="""
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(CAST(year(ts) AS INT), -1) AS year,
           GROUPING(event_type, CAST(year(ts) AS INT)) AS gid,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS total_value
    FROM events
    GROUP BY CUBE(event_type, CAST(year(ts) AS INT))
    """,
)
def ext_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all grouping-set combinations in one pass (the reference
    has ROLLUP-shaped client-side totals only, SURVEY §2 op 26; CUBE
    completes the grouping-sets family). Subtotal rows carry sentinels
    ('ALL' / -1) instead of NULL group keys — gid disambiguates, and a
    NULL integer column would cross the driver boundary as pandas
    float64 (queries/registry.py)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.year("ts").alias("year"), F.col("value").cast("decimal(18,4)").alias("v")
    )
    return (
        ev.cube("event_type", "year")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").cast("decimal(38,4)").alias("total_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("year"), F.lit(-1)).alias("year"),
            "gid",
            "n_events",
            "total_value",
        )
    )


@register(
    "ext_set_ops",
    oracle="""
    SELECT c_nationkey AS nationkey, 'both' AS side FROM (
      SELECT DISTINCT c_nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT c_nationkey, 'customer_only' FROM (
      SELECT DISTINCT c_nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    """,
)
def ext_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT — not in the reference surface (SURVEY §2.G)
    but part of a complete engine: nations having both customers and
    suppliers vs customer-only nations."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = c.intersect(s).withColumn("side", F.lit("both"))
    only = c.exceptAll(s).withColumn("side", F.lit("customer_only"))
    return both.unionByName(only)


@register("ext_approx_sketches")  # approximate by construction -> rows-only
def ext_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates per event type: HyperLogLog++ distinct users and
    approximate value quantiles. At 100 TB these replace exact
    countDistinct/percentile where a bounded-memory mergeable sketch is
    the only viable plan (exact distinct = full shuffle of the key space;
    sketches merge map-side). Accuracy bounds are pytest-checked against
    the exact answers (tests/test_parity.py::test_sketch_accuracy)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.95)), 10000).alias(
            "value_p50_p95"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "ext_salted_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS total_value,
           CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS min_value,
           CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def ext_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-stage aggregation over the 5-hot-key events table:
    event_type has only 5 distinct values, so a plain groupBy occupies 5
    reducers no matter the cluster size; salting spreads each key over 32
    sub-groups first (operators/skew.py)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,4)")
    )
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n_events": ("count", "value_dec"),
            "total_value": ("sum", "value_dec"),
            "min_value": ("min", "value_dec"),
            "max_value": ("max", "value_dec"),
        },
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_value").cast("decimal(38,4)").alias("total_value"),
        "min_value",
        "max_value",
    )


@register(
    "ext_bucketed_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4))
             AS total_revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def ext_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join on bucketed tables (sources/bucketed.py): orders
    and customer are both bucketed+sorted on the customer key at write
    time, so the sort-merge join reads pre-distributed buckets and plans
    ZERO join-side exchanges — the write-once/join-many layout that
    replaces the reference's warehouse indexes (createStarSchema...R:
    163-172). The merge hint pins SMJ so the plan demonstrates the
    bucketed path rather than a size-based broadcast; the only exchange
    left is the final small aggregation."""
    from ..sources.bucketed import bucketed_table

    o = bucketed_table(spark, sf_dir, "orders", "o_custkey")
    c = bucketed_table(spark, sf_dir, "customer", "c_custkey")
    return (
        o.hint("merge")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("decimal(38,4)")
            .alias("total_revenue"),
        )
    )


@register(
    "ext_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new AS (
      SELECT o_orderkey, o_totalprice AS price
      FROM orders WHERE o_orderkey % 11 <> 0
    )
    SELECT CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                WHEN new.o_orderkey IS NULL THEN 'delete'
                WHEN old.price <> new.price THEN 'update'
                ELSE 'unchanged' END AS change_type,
           COUNT(*) AS n_rows
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    GROUP BY 1
    """,
)
def ext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture snapshot diff: FULL OUTER join of two table
    versions on the key, classifying every row insert / delete / update /
    unchanged — how a warehouse without a transaction log reconciles a
    re-extract against the loaded state (the incremental refresh the
    reference lists as future work, README:177). The two snapshots are
    deterministic derivations of orders (drop key%7 rows from the old
    version, key%11 from the new, stale prices on key%5). Full-outer is
    the one join shape that can't broadcast — it plans as a sort-merge
    join on the key exchange; at 100 TB both snapshot scans should be
    bucketed on the key (sources/bucketed.py) to eliminate even that."""
    o = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    old = o.where(key % 7 != 0).select(
        key.alias("a_key"),
        F.when(key % 5 == 0, F.col("o_totalprice") * 1.1)
        .otherwise(F.col("o_totalprice"))
        .alias("a_price"),
    )
    new = o.where(key % 11 != 0).select(key.alias("b_key"), F.col("o_totalprice").alias("b_price"))
    return (
        old.join(new, old["a_key"] == new["b_key"], "full_outer")
        .select(
            F.when(F.col("a_key").isNull(), "insert")
            .when(F.col("b_key").isNull(), "delete")
            .when(F.col("a_price") != F.col("b_price"), "update")
            .otherwise("unchanged")
            .alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "ext_salted_join",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS p50
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(SUM(CASE WHEN e.value > m.p50 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
           CAST(SUM(CASE WHEN e.value <= m.p50 THEN 1 ELSE 0 END) AS BIGINT) AS n_below
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
)
def ext_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof join on a 5-hot-key column: events ⨝ per-type medians
    via operators.skew.salted_join — the probe side salts into 16
    sub-keys per type, the 5-row build side replicates 16x, so the join
    occupies 80 reducers instead of 5. Results are salt-invariant
    (verified against the plain-join oracle). This is the manual
    fallback for skew AQE can't fix — e.g. when the join must stay
    co-partitioned with a downstream op; for broadcastable builds like
    this one, broadcast is the cheaper first choice (the op exists to
    be correct at dimension sizes beyond broadcast reach)."""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("p50"))
    joined = salted_join(ev.select("event_type", "value"), med, "event_type")
    above = F.when(F.col("value") > F.col("p50"), 1).otherwise(0)
    return joined.groupBy("event_type").agg(
        F.sum(above).alias("n_above"),
        F.sum(1 - above).alias("n_below"),
    )


@register("ext_pagerank_transitions")  # iterative -> rows-only check
def ext_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the user-journey transition graph: nodes are event
    types, edges weighted by transition counts (ext_event_transitions'
    matrix), rank = steady-state importance of each step in the journey.
    The canonical iterative-dataflow algorithm — inexpressible in the
    reference (SQL has no fixpoint beyond recursive CTEs; its R is
    driver-side) and genuinely non-SQL here, so the driver applies the
    rows-only check; tests/test_graph_ops.py pins exact values against
    an independent power-iteration model. Rank mass sums to 1."""
    from ..operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_timestamp("ts"), "event_id")
    trans = (
        ev.select(
            "user_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pagerank(trans, weight="n").orderBy(F.desc("rank"), "node")


# ---------------------------------------------------------------------------
# Count-Min Sketch with exact verification
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 256  # buckets per row (two md5 hex nibbles)
_CMS_TOPK = 20
_HEXDIGITS = "0123456789abcdef"


def _cms_bucket_sql(tok_sql: str, r: int) -> str:
    """Engine-portable bucket index in [0, 256): the first two hex
    nibbles of md5(token || '#' || row) folded to an integer — the same
    instr/substr spelling both engines share (no conv() in DuckDB)."""
    h = f"md5(concat({tok_sql}, '#{r}'))"
    return (
        f"((instr('{_HEXDIGITS}', substr({h}, 1, 1)) - 1) * 16"
        f" + (instr('{_HEXDIGITS}', substr({h}, 2, 1)) - 1))"
    )


def cms_buckets(tok_col: str):
    """Array of (r, bucket) pairs for one token — one entry per hash row."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.expr(_cms_bucket_sql(tok_col, r)).cast("int").alias("bucket"),
            )
            for r in range(_CMS_D)
        ]
    )


def cms_cells(toks: DataFrame) -> DataFrame:
    """(r, bucket, c): the Count-Min grid over a token frame — the
    MERGEABLE sketch state (cells add across any split of the input;
    streaming/sketches.py exploits exactly that)."""
    return (
        toks.select(F.explode(cms_buckets("w")).alias("rb"))
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


@register(
    "ext_countmin_sketch",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    toks AS MATERIALIZED (SELECT w FROM tok WHERE w <> ''),
    cells AS MATERIALIZED (
      SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT u.r,
               CASE u.r
                 {' '.join(f"WHEN {r} THEN {_cms_bucket_sql('w', r)}" for r in range(_CMS_D))}
               END AS bucket
        FROM toks, UNNEST(range(0, {_CMS_D})) AS u(r)
      )
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS true_c
      FROM toks GROUP BY w
      ORDER BY true_c DESC, w ASC LIMIT {_CMS_TOPK}
    ),
    probes AS (
      SELECT t.w, t.true_c, u.r,
             CASE u.r
               {' '.join(f"WHEN {r} THEN {_cms_bucket_sql('t.w', r)}" for r in range(_CMS_D))}
             END AS bucket
      FROM truth t, UNNEST(range(0, {_CMS_D})) AS u(r)
    )
    SELECT p.w AS token, p.true_c,
           CAST(MIN(c.c) AS BIGINT) AS est_c,
           CAST(MIN(c.c) - p.true_c AS BIGINT) AS overestimate
    FROM probes p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
    GROUP BY p.w, p.true_c
    """,
)
def ext_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (Cormode & Muthukrishnan 2005) over corpus token
    frequencies — {_CMS_D} md5-derived hash rows x {_CMS_W} buckets —
    with the sketch's point-query estimates verified against exact
    counts for the top-{_CMS_TOPK} tokens. CMS never underestimates
    (est = min over rows of the bucket counter >= true), so
    `overestimate` is the per-token collision error the sketch's
    (d, w) bounds promise to keep small; every number here is an exact
    integer, making a probabilistic data structure fully oracle-checkable.

    Scale shape: the sketch IS the scale story — the cell table is a
    fixed {_CMS_D}x{_CMS_W} grid regardless of corpus size (one
    map-side-combined groupBy; cells merge by addition across any
    partitioning, the CMS mergeability property), and the probe side
    touches only top-k tokens joined against the tiny grid."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(tokens("text")).alias("w")
    ).where(F.col("w") != "")
    cells = cms_cells(toks)
    truth = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("true_c"))
        .orderBy(F.desc("true_c"), F.asc("w"))
        .limit(_CMS_TOPK)
    )
    probes = truth.select(
        "w", "true_c", F.explode(cms_buckets("w")).alias("rb")
    ).select("w", "true_c", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy(F.col("w").alias("token"), "true_c")
        .agg(
            F.min("c").cast("long").alias("est_c"),
            (F.min("c") - F.col("true_c")).cast("long").alias("overestimate"),
        )
    )


@register("ext_hll_distinct")  # sketch estimate -> rows-only check
def ext_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog distinct-user sketches per event type
    (Apache DataSketches via Spark's hll_sketch_agg), reported as
    (event_type, hll_users, exact_users, n_events) so the sketch's
    relative error is visible in the output — the estimate is a
    deterministic function of the sketch registers, which depend only
    on the SET of hashed inputs, so re-runs and repartitions agree
    bit-for-bit (pinned in tests alongside the streamed-vs-batch
    parity of streaming/sketches.py's HLL sink).

    Why next to approx_count_distinct (ext_approx_sketches): HLL++
    there is estimate-only — this surfaces the SKETCH as a first-class
    mergeable object (union across partitions, batches, or days), the
    property a 100 TB rollup actually exploits: daily sketches merge
    into monthly distinct counts without re-scanning raw events.
    exact_users is corpus-sized work kept here as the in-row audit; a
    production rollup drops it and keeps the sketch column."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    return ev.groupBy("event_type").agg(
        F.round(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")))
        .cast("long")
        .alias("hll_users"),
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Mergeable histogram quantiles: the third sketch-sink family
# ---------------------------------------------------------------------------

_HQ_BIN = 10.0  # fixed bin width over events.value (range ~0-330 -> ~33 bins)


def hist_cells(ev: DataFrame) -> DataFrame:
    """(event_type, bin, c): the fixed-width value histogram grid — the
    mergeable object. Cells are pure additive state (integer counts), so
    the grid over any concatenation of inputs is the cell-wise SUM of
    per-part grids: exactly mergeable across partitions, micro-batches,
    or days, like the CMS grid and the HLL registers."""
    return ev.groupBy(
        "event_type",
        F.floor(F.col("value") / F.lit(_HQ_BIN)).cast("int").alias("bin"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))


def hist_quantiles(cells: DataFrame) -> DataFrame:
    """p50/p90/p99 read off a histogram grid: the smallest bin whose
    cumulative count reaches rank ceil(q*n), with the rank computed in
    INTEGER arithmetic — (q_num*n + q_den-1) div q_den — because
    ceil(0.9*n) in binary doubles can land on either side of an exact
    integer boundary depending on the engine's product rounding. Each
    quantile also reports its bin's exclusive upper edge (the histogram
    guarantee: true quantile < hi). One window cumsum over the
    grid-sized table; nothing row-sized is touched."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.withColumn("cum", F.sum("c").over(w))
    tot = cells.groupBy("event_type").agg(F.sum("c").cast("long").alias("n_events"))
    j = cum.join(F.broadcast(tot), "event_type")

    def qbin(num: int, den: int, name: str):
        rank = F.expr(f"({num} * n_events + {den - 1}) div {den}")
        return F.min(F.when(F.col("cum") >= rank, F.col("bin"))).alias(name)

    out = j.groupBy("event_type", "n_events").agg(
        qbin(1, 2, "p50_bin"), qbin(9, 10, "p90_bin"), qbin(99, 100, "p99_bin")
    )
    return out.select(
        "event_type",
        "n_events",
        "p50_bin",
        "p90_bin",
        "p99_bin",
        ((F.col("p50_bin") + 1) * F.lit(_HQ_BIN)).alias("p50_hi"),
        ((F.col("p90_bin") + 1) * F.lit(_HQ_BIN)).alias("p90_hi"),
        ((F.col("p99_bin") + 1) * F.lit(_HQ_BIN)).alias("p99_hi"),
    )


@register(
    "ext_histogram_quantiles",
    oracle=f"""
    WITH cells AS (
      SELECT event_type, CAST(floor(value / {_HQ_BIN}) AS INT) AS bin,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n_events
      FROM cells
    )
    SELECT event_type,
           CAST(MAX(n_events) AS BIGINT) AS n_events,
           MIN(CASE WHEN cum >= (1 * n_events + 1) // 2 THEN bin END) AS p50_bin,
           MIN(CASE WHEN cum >= (9 * n_events + 9) // 10 THEN bin END) AS p90_bin,
           MIN(CASE WHEN cum >= (99 * n_events + 99) // 100 THEN bin END)
             AS p99_bin,
           CAST((MIN(CASE WHEN cum >= (1 * n_events + 1) // 2
                 THEN bin END) + 1) * {_HQ_BIN} AS DOUBLE) AS p50_hi,
           CAST((MIN(CASE WHEN cum >= (9 * n_events + 9) // 10
                 THEN bin END) + 1) * {_HQ_BIN} AS DOUBLE) AS p90_hi,
           CAST((MIN(CASE WHEN cum >= (99 * n_events + 99) // 100
                 THEN bin END) + 1) * {_HQ_BIN} AS DOUBLE) AS p99_hi
    FROM cum
    GROUP BY event_type
    """,
)
def ext_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    return hist_quantiles(hist_cells(ev))
ext_histogram_quantiles.__doc__ = """Histogram-sketch quantiles per event type — the MERGEABLE answer
to 'p50/p95/p99 at 100 TB' (the Prometheus/OpenTelemetry histogram
pattern, and the shape ext_exact_stats' sort-based percentile cannot
scale to a stream): the value distribution is maintained as a fixed
{w:g}-wide bin grid (integer counts, cell-wise additive — daily
grids merge into monthly quantiles without re-scanning raw events),
and each quantile is read off the grid as the first bin whose
cumulative count reaches the integer rank ceil(q*n). Every number
is integer-or-exact-double arithmetic, so a sketch op is fully
ORACLE-CHECKED, like the CMS (exact integer cells) and unlike raw
HLL registers (rows-only).

Completes the sketch-sink trio: streaming/sketches.py maintains the
same grid incrementally (start_histogram_stream) with the versioned
MERGE-sink idempotency pattern; the kill-and-resume test pins the
streamed grid bit-identical to this query's builder over the whole
corpus. Scale: the grid is (types x bins) rows regardless of corpus
size; the probe/window work runs on the grid, never the events.""".format(
    w=_HQ_BIN
)



# ---------------------------------------------------------------------------
# Weighted sampling without floats: PPS systematic
# ---------------------------------------------------------------------------

_PPS_K = 500  # picks per run (the subsample budget)


@register(
    "ext_weighted_sample_pps",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, n_chars AS w,
             md5(CAST(doc_id AS STRING)) AS h
      FROM documents
    ),
    cum AS (
      SELECT doc_id, lang, w,
             SUM(w) OVER (ORDER BY h, doc_id) AS cw,
             SUM(w) OVER () AS tw
      FROM d
    ),
    p AS (
      SELECT doc_id, lang, w,
             LEAST(CAST({_PPS_K} AS BIGINT), GREATEST(CAST(0 AS BIGINT),
               (2 * {_PPS_K} * cw + tw - 1) // (2 * tw)))
             - LEAST(CAST({_PPS_K} AS BIGINT), GREATEST(CAST(0 AS BIGINT),
               (2 * {_PPS_K} * (cw - w) + tw - 1) // (2 * tw))) AS n_picks
      FROM cum
    )
    SELECT doc_id, lang, CAST(w AS BIGINT) AS w,
           CAST(n_picks AS INT) AS n_picks
    FROM p WHERE n_picks > 0
    """,
)
def ext_weighted_sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ds = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    d = ds.select(
        "doc_id",
        "lang",
        F.col("n_chars").alias("w"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("bucket", F.substring("h", 1, 2))

    # stage 1 of the distributed prefix sum: per-bucket totals (<= 256
    # rows) and each bucket's exclusive offset. The single-partition
    # window here orders 256 rows — bounded driver-side metadata, the
    # same tier as a broadcast codebook.
    btot = d.groupBy("bucket").agg(F.sum("w").alias("bw"))
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = btot.select(
        "bucket", F.coalesce(F.sum("bw").over(woff), F.lit(0)).alias("off")
    )
    tot = d.agg(F.sum("w").alias("tw"))

    # stage 2: within-bucket cumulative sums run as 256 PARALLEL windows;
    # the broadcast offset join turns them into the global prefix sum.
    win = Window.partitionBy("bucket").orderBy("h", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        d.join(F.broadcast(offs), "bucket")
        .withColumn("cw", F.sum("w").over(win) + F.col("off"))
        .crossJoin(F.broadcast(tot))
    )

    def g(x):
        ceil_expr = F.expr(
            f"(2 * {_PPS_K} * {x} + tw - 1) div (2 * tw)"
        )
        return F.least(
            F.lit(_PPS_K).cast("long"),
            F.greatest(F.lit(0).cast("long"), ceil_expr),
        )

    return (
        cum.withColumn("n_picks", (g("cw") - g("(cw - w)")).cast("int"))
        .where(F.col("n_picks") > 0)
        .select("doc_id", "lang", F.col("w").cast("long").alias("w"), "n_picks")
    )


ext_weighted_sample_pps.__doc__ = """Weighted sampling without replacement-by-
expectation: PPS SYSTEMATIC sampling (probability proportional to size,
the survey-sampling workhorse) picks {k} documents with inclusion
probability proportional to n_chars — the deterministic, EXACT way to
subsample a corpus toward a token budget (heavier docs proportionally
likelier) without the floating-point exponential race of
Efraimidis-Spirakis, whose ln() is not ulp-identical across engines
(feature_ops.py module doc). Docs are shuffled by md5(doc_id), the
cumulative weight line is divided into {k} equal strides, and each
stride's midpoint picks the doc whose weight interval covers it; a doc
wider than one stride is picked multiple times (n_picks is its
multiplicity), keeping sum(n_picks) == {k} exactly. Every comparison is
BIGINT ceil-division — g(x) = clamp((2kx + W - 1) div 2W, 0, k) — so
the op is fully oracle-checked.

Scale: the naive spelling is a GLOBAL window cumsum (one partition =
one straggler at 100 TB). This implementation runs the textbook
two-pass distributed prefix sum instead: 256 md5-prefix buckets window
in PARALLEL, their totals (a 256-row aggregate) broadcast back as
per-bucket offsets. Cross-engine determinism comes from the md5 order;
no randomness, no transcendentals, no shuffle wider than the one
bucket-keyed window sort.""".format(k=_PPS_K)
