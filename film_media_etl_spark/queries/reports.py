"""The reference's analytical report workload (BusinessAnalysis...Rmd,
15 queries) re-expressed over the engine's star schema.

Each report is written ONCE in portable ANSI SQL: Spark runs it verbatim
over temp views of the built star tables; the DuckDB oracle runs the same
text prefixed with the star pipeline's CTEs (etl.star.STAR_CTES) — so a
report hash-match certifies the whole chain ETL -> star -> query.

Conventions: sums of the DECIMAL(18,4) fact revenue are widened to
DECIMAL(38,4); unit sums cast to BIGINT (DuckDB sums INTEGER into
HUGEINT); every LIMIT carries deterministic tiebreakers. Sequential
query dependencies in the reference (values of one query injected into
the next, Rmd:116-126,356-367) become uncorrelated scalar subqueries —
both engines support them natively.

The flagship (Rmd:90-96 'revenue by year, top-k') is entry()'s query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl.star import STAR_CTES, build_star
from ..functions.money import money_sum
from ..sources import load_table
from .reference_ops import REVENUE, _revenue_col
from .registry import register


@register(
    "flagship_revenue_by_year",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS INT) AS year,
           CAST(SUM(CAST(({REVENUE}) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS total_revenue,
           COUNT(*) AS n_sales
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    ORDER BY total_revenue DESC, year ASC
    LIMIT 5
    """,
)
def flagship_revenue_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: revenue by year, top-5 (reference BusinessAnalysis...Rmd:
    90-96 — scan -> join -> group-sum -> sort -> limit in one declarative
    chain; Catalyst prunes lineitem to 3 columns and plans distributed
    top-k)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").alias("year"))
        .agg(
            money_sum(_revenue_col(), "total_revenue"),
            F.count(F.lit(1)).alias("n_sales"),
        )
        .orderBy(F.desc("total_revenue"), F.asc("year"))
        .limit(5)
    )


# ---------------------------------------------------------------------------
# The 15-report workload (BusinessAnalysis...Rmd). Portable SQL, see module
# docstring. Rmd line citations per report.
# ---------------------------------------------------------------------------

_REV_SUM = "CAST(SUM(revenue) AS DECIMAL(38,4))"
_UNIT_SUM = "CAST(SUM(units_sold) AS BIGINT)"

# sales_summary rollup forms: reports whose measures are purely additive
# read the pre-aggregate (README.md:52's claimed-but-never-built usage
# pattern) — the sales_summary table build_star writes once per build,
# 2,379 rows at sf0.01 against the fact's 60,000. Their DuckDB
# oracles still aggregate the raw fact, so the value-hash match PROVES
# summary-rollup == fact-rollup. COUNT DISTINCT reports stay on the fact
# (distinct counts are not additive).
_SREV = "CAST(SUM(total_revenue) AS DECIMAL(38,4))"
_SUNIT = "CAST(SUM(total_units) AS BIGINT)"


def _rev_q(q: int) -> str:
    return (
        f"CAST(SUM(CASE WHEN quarter = {q} THEN total_revenue "
        f"ELSE CAST(0 AS DECIMAL(38,4)) END) AS DECIMAL(38,4)) AS q{q}"
    )


def _unit_q(q: int) -> str:
    return f"CAST(SUM(CASE WHEN quarter = {q} THEN total_units ELSE 0 END) AS BIGINT) AS q{q}"


REPORTS: dict[str, tuple[str, str]] = {
    # r01 — top revenue year (Rmd:90-96)
    "report_r01_top_year": (
        "Rmd:90-96 — total revenue by year, best year first.",
        f"""
        SELECT year, {_SREV} AS total_revenue
        FROM sales_summary GROUP BY year
        ORDER BY total_revenue DESC, year ASC LIMIT 1
        """,
    ),
    # r02 — revenue pivot over the 3 most recent years (Rmd:116-126; the
    # reference injects years from a prior query — here scalar subqueries)
    "report_r02_recent_years_pivot": (
        "Rmd:116-126 — per-country revenue columns for the 3 most recent years.",
        f"""
        SELECT country,
          CAST(SUM(CASE WHEN year = (SELECT MAX(year) FROM sales_summary)
               THEN total_revenue ELSE CAST(0 AS DECIMAL(38,4)) END) AS DECIMAL(38,4)) AS y0,
          CAST(SUM(CASE WHEN year = (SELECT MAX(year) - 1 FROM sales_summary)
               THEN total_revenue ELSE CAST(0 AS DECIMAL(38,4)) END) AS DECIMAL(38,4)) AS y1,
          CAST(SUM(CASE WHEN year = (SELECT MAX(year) - 2 FROM sales_summary)
               THEN total_revenue ELSE CAST(0 AS DECIMAL(38,4)) END) AS DECIMAL(38,4)) AS y2
        FROM sales_summary GROUP BY country
        """,
    ),
    # r03 — quarterly pivot for top-3 revenue countries (Rmd:150-163)
    "report_r03_top_countries_quarters": (
        "Rmd:150-163 — Q1..Q4 revenue columns, facts restricted to top-3 "
        "revenue countries via aggregated derived table.",
        f"""
        SELECT f.country, {_rev_q(1)}, {_rev_q(2)}, {_rev_q(3)}, {_rev_q(4)}
        FROM sales_summary f
        JOIN (SELECT country FROM sales_summary GROUP BY country
              ORDER BY {_SREV} DESC, country ASC LIMIT 3) t
          ON f.country = t.country
        GROUP BY f.country
        """,
    ),
    # r04 — average transaction revenue per country (Rmd:154)
    "report_r04_avg_revenue": (
        "Rmd:154 — AVG(revenue) per country (exact-numerator form).",
        """
        SELECT country,
               CAST(SUM(total_revenue) AS DOUBLE) / SUM(n_transactions) AS avg_revenue,
               CAST(SUM(n_transactions) AS BIGINT) AS n_transactions
        FROM sales_summary GROUP BY country
        """,
    ),
    # r05 — customers per country, top 3 (Rmd:203-204)
    "report_r05_customers_per_country": (
        "Rmd:203-204 — customer counts per country, top-3.",
        """
        SELECT country, COUNT(*) AS n_customers
        FROM dim_customer GROUP BY country
        ORDER BY n_customers DESC, country ASC LIMIT 3
        """,
    ),
    # r06 — film vs music distinct customers (Rmd:192-194)
    "report_r06_customer_type_counts": (
        "Rmd:192-194 — COUNT(DISTINCT) split by customer_type.",
        """
        SELECT
          COUNT(DISTINCT CASE WHEN customer_type = 'film' THEN customer_id END) AS film_customers,
          COUNT(DISTINCT CASE WHEN customer_type = 'music' THEN customer_id END) AS music_customers,
          COUNT(DISTINCT country) AS n_countries
        FROM dim_customer
        """,
    ),
    # r07 — country-year revenue for top customer-count countries (Rmd:221-227)
    "report_r07_top_customer_countries_revenue": (
        "Rmd:221-227 — revenue by (country, year) restricted to the top-3 "
        "countries by customer count.",
        f"""
        SELECT f.country, f.year, {_SREV} AS revenue
        FROM sales_summary f
        JOIN (SELECT country FROM dim_customer GROUP BY country
              ORDER BY COUNT(*) DESC, country ASC LIMIT 3) t
          ON f.country = t.country
        GROUP BY f.country, f.year
        """,
    ),
    # r08 — revenue and units by year, quarter, product_type (Rmd:318-321)
    "report_r08_quarterly_product": (
        "Rmd:318-321 — GROUP BY year, quarter, product_type.",
        f"""
        SELECT year, quarter, product_type,
               {_SREV} AS revenue, {_SUNIT} AS units
        FROM sales_summary GROUP BY year, quarter, product_type
        """,
    ),
    # r09 — units pivot by quarter per year (Rmd:269-296 matrix building)
    "report_r09_units_pivot": (
        "Rmd:269-296 — units Q1..Q4 columns per year (the reference builds "
        "this matrix client-side in R; here one conditional aggregation).",
        f"""
        SELECT year, {_unit_q(1)}, {_unit_q(2)}, {_unit_q(3)}, {_unit_q(4)}
        FROM sales_summary GROUP BY year
        """,
    ),
    # r10 — film/music revenue split by year (Rmd:259-260). Facts are
    # film-source only — mirroring the reference, whose music DB is absent.
    "report_r10_type_split": (
        "Rmd:259-260 — film vs music revenue columns per year via the "
        "customer dimension.",
        """
        SELECT f.year,
          CAST(SUM(CASE WHEN dc.customer_type = 'film' THEN f.revenue
               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS film_revenue,
          CAST(SUM(CASE WHEN dc.customer_type = 'music' THEN f.revenue
               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS music_revenue
        FROM fact_sales f
        LEFT JOIN dim_customer dc ON f.customer_key = dc.customer_key
        GROUP BY f.year
        """,
    ),
    # r11 — monthly revenue in the latest year (Rmd:356-367 sequential dep)
    "report_r11_monthly_latest_year": (
        "Rmd:356-367 — monthly revenue where year = MAX(year) (the "
        "reference's query-into-query injection as a scalar subquery).",
        f"""
        SELECT month, {_SREV} AS revenue, {_SUNIT} AS units
        FROM sales_summary
        WHERE year = (SELECT MAX(year) FROM sales_summary)
        GROUP BY month
        """,
    ),
    # r12 — top-2 country-year combinations (Rmd:105)
    "report_r12_top_country_years": (
        "Rmd:105 — top-2 (country, year) pairs by revenue.",
        f"""
        SELECT country, year, {_SREV} AS revenue
        FROM sales_summary GROUP BY country, year
        ORDER BY revenue DESC, country ASC, year ASC LIMIT 2
        """,
    ),
    # r13 — country x quarter with subtotals and grand total (Rmd:459-490)
    "report_r13_rollup_totals": (
        "Rmd:459-490 — the reference's client-side rowSums/grand totals as "
        "one native ROLLUP.",
        f"""
        SELECT COALESCE(country, 'ALL') AS country,
               COALESCE(quarter, -1) AS quarter,
               GROUPING_ID(country, quarter) AS gid,
               {_SREV} AS revenue, {_SUNIT} AS units
        FROM sales_summary GROUP BY ROLLUP(country, quarter)
        """,
    ),
    # r14 — year range of the fact data (Rmd:352,522-523)
    "report_r14_year_range": (
        "Rmd:522-523 — MIN/MAX year and distinct-year count.",
        """
        SELECT MIN(year) AS min_year, MAX(year) AS max_year,
               COUNT(DISTINCT year) AS n_years
        FROM sales_summary
        """,
    ),
    # r15 — grand KPI summary (Rmd:524-526)
    "report_r15_summary_kpis": (
        "Rmd:524-526 — grand totals: revenue, transactions, customers, countries.",
        f"""
        SELECT {_REV_SUM} AS total_revenue,
               COUNT(*) AS n_transactions,
               COUNT(DISTINCT customer_key) AS n_customers,
               COUNT(DISTINCT country) AS n_countries
        FROM fact_sales
        """,
    ),
}


def _make_report(sql: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        star = build_star(spark, sf_dir)
        for t, df in star.items():
            df.createOrReplaceTempView(t)
        return spark.sql(sql)

    return fn


for _name, (_doc, _sql) in REPORTS.items():
    register(_name, oracle=f"WITH {STAR_CTES} {_sql}", doc=_doc)(_make_report(_sql))
