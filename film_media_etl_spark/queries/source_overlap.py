"""Cross-source overlap matrix — the dataset-card number a corpus
curator reads before mixing sources: for every PAIR of sources, how
much n-gram material they share (|A∩B| of distinct token 4-gram
shingles, and the Jaccard |A∩B| / |A∪B|). High overlap between two
"different" sources means double-counted content after mixing
(effective epochs rise), leakage between a train source and a
held-out source, or one source scraping another — the pairwise view
catches what per-source dedup stats can't (two internally-clean
sources can still be copies of each other). The fixture corpus has
ZERO exact cross-source documents, which is exactly why the unit is
the shingle: sub-document sharing is the signal that survives
paraphrase-level divergence.

Spark-first shape and the 100 TB audit: shingles are built JVM-side
(slice + array_join over the token array, one Generate), reduced to
DISTINCT (source, shingle) pairs by a map-side-combined aggregate —
the shuffle carries distinct shingles per source, never documents.
The pairwise intersection is a self-equi-join ON SHINGLE: a shingle
appearing in k sources expands to k(k-1)/2 pairs, bounded by the
SOURCE-PAIR count (a deployment has tens-to-hundreds of sources, so
per-key fanout is capped by construction — this join can never go
quadratic in the corpus). Per-source totals are a tiny aggregate
broadcast back onto the 190-row pair matrix. Guard rail: documents
under 4 tokens contribute no shingles on BOTH engines (Spark's
sequence() would DESCEND on a negative span — the ANSI footgun —
so the span is explicitly gated; DuckDB's range() is naturally empty).

Reference parity note: the reference treats its single input CSV as
one source (` loadAnalyticsDB...R`:56-72); source provenance and
cross-source contamination are scale concerns its one-file world
never meets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import generate_barrier, shingles, tokens
from ..sources import ensure_parallelism, load_table
from .registry import register

_SHINGLE = 4  # tokens per shingle — matches the blocklist/line-proxy grain


def source_shingles(docs: DataFrame, *, n: int = _SHINGLE) -> DataFrame:
    """DISTINCT (source, shingle) pairs: every token n-gram each source
    contains, deduplicated with a map-side-combined aggregate. Shingle
    construction is functions.text.shingles (ONE home for the
    slice+array_join shingle shape and its short-doc guard); the token
    array is materialized behind a Generate barrier first
    (functions.text.generate_barrier) so the split isn't re-evaluated
    per shingle position."""
    step = generate_barrier(
        docs.filter(F.col("text").isNotNull()).select("source", "text"),
        toks=tokens("text"),
    )
    grams = shingles(F.col("toks"), n)
    return step.select("source", F.explode(grams).alias("shingle")).distinct()


@register(
    "ext_source_overlap",
    oracle=f"""
    WITH s AS (
      SELECT DISTINCT source,
             array_to_string(list_slice(string_split(lower(text), ' '),
                                        i, i + {_SHINGLE - 1}), ' ') AS shingle
      FROM documents,
           LATERAL unnest(range(1, len(string_split(lower(text), ' '))
                                   - {_SHINGLE - 2})) AS u(i)
      WHERE text IS NOT NULL
    ), t AS (
      SELECT source, COUNT(*) AS n_shingles FROM s GROUP BY source
    ), p AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_common
      FROM s a JOIN s b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           CAST(p.n_common AS INT) AS n_common,
           CAST(p.n_common AS DOUBLE)
             / (ta.n_shingles + tb.n_shingles - p.n_common) AS jaccard
    FROM p
    JOIN t ta ON ta.source = p.source_a
    JOIN t tb ON tb.source = p.source_b
    """,
)
def ext_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source shingle-overlap matrix over the documents
    table (see module doc): (source_a, source_b, n_common, jaccard)
    for every source pair sharing at least one 4-gram shingle —
    GROUP BY emits observed pairs only, and the oracle agrees."""
    s = source_shingles(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    a = s.select(F.col("source").alias("source_a"), "shingle")
    b = s.select(F.col("source").alias("source_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("_n_common"))
    )
    totals = s.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        pairs.join(
            F.broadcast(totals).withColumnsRenamed(
                {"source": "source_a", "n_shingles": "_na"}
            ),
            "source_a",
        )
        .join(
            F.broadcast(totals).withColumnsRenamed(
                {"source": "source_b", "n_shingles": "_nb"}
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("_n_common").cast("int").alias("n_common"),
            (
                F.col("_n_common").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
