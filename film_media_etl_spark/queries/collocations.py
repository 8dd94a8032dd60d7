"""Sequential collocations (token bigrams) and rolling cross-series
correlation.

Bigram collocations are the ORDER-sensitive companion to ext_term_pmi's
document-level co-occurrence: 'fast scan' and 'scan fast' count apart,
which is what phrase mining and tokenizer-merge candidates (BPE's seed
statistics) need. Rolling correlation tracks whether two activity
streams (clicks vs purchases) move together over a trailing day — the
co-movement monitor behind funnel-health dashboards.

Exactness: bigram counting is pure integers (array ops stay JVM-side);
rolling correlation keeps every windowed moment an exact decimal sum
and derives r with one sqrt + one division per row (IEEE-deterministic
on identical inputs, no rounding step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources import load_table
from .registry import register

_TOP_BIGRAMS = 20


@register(
    "ext_token_bigrams",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ts
      FROM documents
    ),
    bg AS (
      SELECT ts[t.i] || ' ' || ts[t.i + 1] AS bigram
      FROM toks, unnest(generate_series(1, len(ts) - 1)) AS t(i)
      WHERE len(ts) >= 2
    )
    SELECT bigram, COUNT(*) AS n
    FROM bg GROUP BY 1
    ORDER BY n DESC, bigram ASC
    LIMIT {_TOP_BIGRAMS}
    """,
)
def ext_token_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{20} adjacent token bigrams across the corpus — the seed
    statistic for phrase mining and BPE-style merge selection (order
    matters: 'fast scan' != 'scan fast', unlike document co-occurrence).
    Bigrams materialize JVM-side as transform(sequence(...)) over the
    token array — the sequence is guarded to docs with >= 2 tokens
    because sequence(1, 0) yields a DESCENDING series, not an empty one
    (engine trap) — then one explode + count + per-partition top-k heap
    (TakeOrderedAndProject). Counting is exact; ties break on the
    bigram string."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("ts")).where(
        F.size("ts") >= 2
    )
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1), "
                "i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"
            )
        ).alias("bigram")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(_TOP_BIGRAMS)
    )


@register(
    "ext_rolling_corr",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
                           THEN CAST(value AS DECIMAL(18,3)) END), 0)
                  AS DECIMAL(28,3)) AS x,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(18,3)) END), 0)
                  AS DECIMAL(28,3)) AS y
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ),
    m AS (
      SELECT hour, x, y,
             COUNT(*)                    OVER w AS n,
             CAST(SUM(x)     OVER w AS DECIMAL(38,3))  AS sx,
             CAST(SUM(y)     OVER w AS DECIMAL(38,3))  AS sy,
             CAST(SUM(CAST(x AS DECIMAL(19,3)) * CAST(x AS DECIMAL(19,3)))
                  OVER w AS DECIMAL(38,6)) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(19,3)) * CAST(y AS DECIMAL(19,3)))
                  OVER w AS DECIMAL(38,6)) AS syy,
             CAST(SUM(CAST(x AS DECIMAL(19,3)) * CAST(y AS DECIMAL(19,3)))
                  OVER w AS DECIMAL(38,6)) AS sxy
      FROM h
      WINDOW w AS (ORDER BY hour ASC ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT hour, x, y, CAST(n AS BIGINT) AS n_hours,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS rolling_r
    FROM m
    WHERE n = 24
    """,
)
def ext_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h Pearson correlation between hourly click value and
    purchase value — the funnel co-movement monitor (r collapsing toward
    0 = clicks stopped converting). Both series come from ONE
    conditional aggregation (no self-join of events); all five rolling
    moments share one window spec (single Window node), stay exact
    decimal inside the frame, and r is derived per row with IEEE ops
    only — no rounding, because every input to the double math is an
    exactly-converted decimal. Warm-up rows (frame shorter than 24h)
    are dropped; the window runs on the hour-sized aggregate."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    v = F.col("value").cast("decimal(18,3)")
    zero = F.lit(0).cast("decimal(18,3)")
    h = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.coalesce(F.sum(F.when(F.col("event_type") == "click", v)), zero)
        .cast("decimal(28,3)")
        .alias("x"),
        F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", v)), zero)
        .cast("decimal(28,3)")
        .alias("y"),
    )
    w = Window.orderBy(F.asc("hour")).rowsBetween(-23, 0)
    xd = F.col("x").cast("decimal(19,3)")
    yd = F.col("y").cast("decimal(19,3)")
    m = h.select(
        "hour",
        "x",
        "y",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).cast("decimal(38,3)").alias("sx"),
        F.sum("y").over(w).cast("decimal(38,3)").alias("sy"),
        F.sum(xd * xd).over(w).cast("decimal(38,6)").alias("sxx"),
        F.sum(yd * yd).over(w).cast("decimal(38,6)").alias("syy"),
        F.sum(xd * yd).over(w).cast("decimal(38,6)").alias("sxy"),
    ).where(F.col("n") == 24)
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sx * sy
    denx = nd * F.col("sxx").cast("double") - sx * sx
    deny = nd * F.col("syy").cast("double") - sy * sy
    return m.select(
        "hour",
        "x",
        "y",
        F.col("n").cast("long").alias("n_hours"),
        (num / F.sqrt(denx * deny)).alias("rolling_r"),
    )
