"""Corpus-level quality signals: compression-ratio repetition proxy,
per-source n-gram diversity, and the Bloom-broadcast decontamination
tier.

Signals every published curation stack reports next to the Gopher
gates (reference parity target: the reference has no corpus module at
all — this extends the documents surface the same way the rest of the
LLM-pipeline family does):

- ``ext_compression_ratio``: zlib-compressibility per document. A
  near-duplicate-free, natural-language document compresses to a
  mid-range fraction of its raw bytes; boilerplate/templated text
  compresses far better (low ratio) and random or binary-ish payloads
  barely compress at all (ratio ~1). Gating BOTH tails is the
  compression analogue of Gopher's duplicate-n-gram fractions and is
  reported as a standard signal in public web-corpus releases
  (RedPajama-Data-v2's quality-signal battery). zlib is not
  SQL-expressible, so this is a rows-only query; bit-level correctness
  is pinned by a Python model test that recompresses the same bytes
  with the same zlib level (tests/test_function_models.py).

- ``ext_ngram_diversity``: the dataset-card table — per source: corpus
  size, exact distinct-token and distinct-trigram counts, type-token
  ratio and duplicate-trigram fraction. This is the EXACT tier
  (count_distinct shuffles the distinct grams); the sketch tier for the
  same question at 100 TB is ext_hll_distinct / the HLL sketch sink,
  which this report is the ground truth for. Exact DuckDB oracle.

- ``ext_decontamination_bloom``: the constant-broadcast tier of the
  benchmark screen — a fixed 128 KiB Bloom bitmap over the eval
  shingles replaces the exact broadcast set when the screened set is
  corpus-class (operators/bloom.py). Rows-only (xxhash64 bitmap);
  guarantees pinned in tests/test_corpus_signals.py.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import ngrams, shingles, tokens
from ..operators.bloom import bloom_build, bloom_contains
from ..sources import ensure_parallelism, load_table
from .registry import register

# zlib level is part of the operator's definition: determinism of the
# byte count requires a pinned level (6 = zlib default, the level the
# published corpus signals use).
_ZLIB_LEVEL = 6

# Keep-gate bounds chosen against the synthetic corpus the way a real
# pipeline tunes them against a labeled sample: sf0.01 ratios span
# 0.398..1.019 (p5=0.421, p95=0.833), so [0.42, 0.90] rejects both
# tails while keeping the bulk — the fixture exercises all three
# verdict classes.
_RATIO_LO = 0.42
_RATIO_HI = 0.90

_COMPRESSION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("compressed_bytes", T.LongType(), False),
    ]
)


def compression_sizes(docs: DataFrame) -> DataFrame:
    """Arrow-batched zlib sizing: (doc_id, lang, raw_bytes,
    compressed_bytes) per document. mapInPandas streams Arrow batches —
    constant memory per task regardless of corpus size, no Python
    row-at-a-time path. The ratio/verdict math stays JVM-side so the
    Python boundary carries exactly two integers per document out.

    NULL contract (this is a reusable operator over any (doc_id, lang,
    text) frame, not just the fixture corpus): NULL text sizes as the
    empty string — raw_bytes 0, compressed_bytes the empty zlib stream
    — mirroring the JVM queries' null-propagation instead of crashing
    the Arrow batch; compression_report then yields a NULL ratio and a
    FALSE keep-gate for such rows."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd
        import zlib

        for pdf in it:
            raw = pdf["text"].map(lambda s: (s or "").encode("utf-8"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "raw_bytes": raw.map(len).astype("int64"),
                    "compressed_bytes": raw.map(
                        lambda b: len(zlib.compress(b, _ZLIB_LEVEL))
                    ).astype("int64"),
                }
            )

    return docs.select("doc_id", "lang", "text").mapInPandas(
        batches, schema=_COMPRESSION_SCHEMA
    )


def compression_report(docs: DataFrame) -> DataFrame:
    """Ratio + two-sided keep-gate over compression_sizes — JVM
    expressions only past the Arrow boundary. Zero raw bytes (NULL or
    empty text) yields a NULL ratio and a FALSE gate explicitly — no
    reliance on division-by-zero semantics."""
    sized = compression_sizes(docs)
    ratio = F.when(
        F.col("raw_bytes") > 0,
        F.col("compressed_bytes").cast("double")
        / F.col("raw_bytes").cast("double"),
    )
    return sized.select(
        "doc_id",
        "lang",
        "raw_bytes",
        "compressed_bytes",
        ratio.alias("compression_ratio"),
        F.coalesce(
            (ratio >= _RATIO_LO) & (ratio <= _RATIO_HI), F.lit(False)
        ).alias("passes_compression"),
    )


@register("ext_compression_ratio")  # zlib not SQL-expressible -> rows-only
def ext_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio repetition proxy per document (see module
    docstring). One mapInPandas pass computes the two byte counts; the
    ratio and the two-sided keep-gate are JVM expressions. At 100 TB
    this is embarrassingly parallel — no shuffle anywhere, the scan
    partitioning is the job partitioning."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return compression_report(docs)


@register(
    "ext_ngram_diversity",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS toks
      FROM documents
    ), dcount AS (
      SELECT source, COUNT(*) AS n_docs FROM t GROUP BY source
    ), tok AS (
      SELECT t.source, u.tk
      FROM t, LATERAL unnest(t.toks) AS u(tk)
    ), tok_agg AS (
      SELECT source,
             COUNT(*) AS total_tokens,
             COUNT(DISTINCT tk) AS distinct_tokens
      FROM tok GROUP BY source
    ), tri AS (
      SELECT t.source,
             t.toks[i] || ' ' || t.toks[i+1] || ' ' || t.toks[i+2] AS tg
      FROM t, LATERAL unnest(generate_series(1, len(t.toks) - 2)) AS u(i)
    ), tri_agg AS (
      SELECT source,
             COUNT(*) AS total_trigrams,
             COUNT(DISTINCT tg) AS distinct_trigrams
      FROM tri GROUP BY source
    )
    SELECT d.source,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(ta.total_tokens, 0) AS BIGINT) AS total_tokens,
           CAST(COALESCE(ta.distinct_tokens, 0) AS BIGINT) AS distinct_tokens,
           CASE WHEN COALESCE(ta.total_tokens, 0) = 0
                THEN CAST(-1.0 AS DOUBLE)
                ELSE CAST(ta.distinct_tokens AS DOUBLE)
                     / CAST(ta.total_tokens AS DOUBLE) END
             AS type_token_ratio,
           CAST(COALESCE(ga.total_trigrams, 0) AS BIGINT) AS total_trigrams,
           CAST(COALESCE(ga.distinct_trigrams, 0) AS BIGINT)
             AS distinct_trigrams,
           CASE WHEN COALESCE(ga.total_trigrams, 0) = 0
                THEN CAST(-1.0 AS DOUBLE)
                ELSE 1.0 - CAST(ga.distinct_trigrams AS DOUBLE)
                           / CAST(ga.total_trigrams AS DOUBLE) END
             AS dup_trigram_frac
    FROM dcount d
    LEFT JOIN tok_agg ta ON d.source = ta.source
    LEFT JOIN tri_agg ga ON d.source = ga.source
    """,
)
def ext_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram diversity report (dataset-card numbers): doc
    count, exact total/distinct token and trigram counts, type-token
    ratio, duplicate-trigram fraction. Trigrams come from
    functions/text.ngrams — JVM higher-order functions, zero Python, no
    join to form the grams (see ngram_diversity for the one-text-scan
    fusion and shuffle economics). This is
    deliberately the EXACT tier — the HLL sketch family
    (ext_hll_distinct, streaming/sketches.py) answers the same
    question at 100 TB with KB-sized state, and this report is its
    calibration ground truth."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return ngram_diversity(docs)


def ngram_diversity(docs: DataFrame) -> DataFrame:
    """Per-source diversity report over any (doc_id, source, text)
    frame; short documents (< 3 tokens) contribute zero trigrams
    (ngrams yields [] below n tokens) instead of erroring. A
    source with zero grams of a kind reports -1.0 for the derived
    fraction (the output-null contract: the zero count is the
    indicator, the sentinel keeps the double column NULL-free).

    Scan economics (the text column dominates corpus bytes): tokens and
    trigrams are fused into ONE tagged gram array per document and
    exploded once, so the corpus text is read exactly once — a
    two-branch form (tokens and trigrams exploded separately) scans it
    twice. The doc counter reads only the pruned `source` column.
    Distinct counting keys the shuffle on (source, kind, gram) with
    Spark's partial-distinct map side, so the exchange carries distinct
    grams, never gram occurrences."""
    t = docs.select(
        "doc_id", "source", tokens("text").alias("toks")
    )
    tagged = F.concat(
        F.transform(
            F.col("toks"),
            lambda x: F.struct(F.lit(1).alias("kind"), x.alias("gram")),
        ),
        F.transform(
            ngrams("toks", 3),
            lambda x: F.struct(F.lit(3).alias("kind"), x.alias("gram")),
        ),
    )
    dcount = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    by_kind = (
        t.select("source", F.explode(tagged).alias("g"))
        .select("source", F.col("g.kind").alias("kind"), F.col("g.gram").alias("gram"))
        .groupBy("source", "kind")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count_distinct("gram").alias("n_distinct"),
        )
    )
    gram_agg = by_kind.groupBy("source").agg(
        F.sum(F.when(F.col("kind") == 1, F.col("total"))).alias("total_tokens"),
        F.sum(F.when(F.col("kind") == 1, F.col("n_distinct"))).alias(
            "distinct_tokens"
        ),
        F.sum(F.when(F.col("kind") == 3, F.col("total"))).alias(
            "total_trigrams"
        ),
        F.sum(F.when(F.col("kind") == 3, F.col("n_distinct"))).alias(
            "distinct_trigrams"
        ),
    )
    total_tokens = F.coalesce(F.col("total_tokens"), F.lit(0)).cast("long")
    distinct_tokens = F.coalesce(F.col("distinct_tokens"), F.lit(0)).cast(
        "long"
    )
    total_trigrams = F.coalesce(F.col("total_trigrams"), F.lit(0)).cast(
        "long"
    )
    distinct_trigrams = F.coalesce(
        F.col("distinct_trigrams"), F.lit(0)
    ).cast("long")
    ttr = F.when(
        total_tokens == 0, F.lit(-1.0)
    ).otherwise(
        distinct_tokens.cast("double") / total_tokens.cast("double")
    )
    dup_frac = F.when(
        total_trigrams == 0, F.lit(-1.0)
    ).otherwise(
        F.lit(1.0)
        - distinct_trigrams.cast("double") / total_trigrams.cast("double")
    )
    return dcount.join(gram_agg, "source", "left").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        total_tokens.alias("total_tokens"),
        distinct_tokens.alias("distinct_tokens"),
        ttr.alias("type_token_ratio"),
        total_trigrams.alias("total_trigrams"),
        distinct_trigrams.alias("distinct_trigrams"),
        dup_frac.alias("dup_trigram_frac"),
    )


# ---------------------------------------------------------------------------
# Bloom-broadcast decontamination (constant-size screen)
# ---------------------------------------------------------------------------

# Same split and shingle width as the exact screen
# (llm_curation.ext_decontamination) so the two tiers are directly
# comparable: eval = doc_id < 10, 8-token shingles.
_EVAL_MAX_ID = 10
_DECON_SHINGLE_N = 8


def bloom_flag_docs(docs: DataFrame) -> DataFrame:
    """Per-document Bloom contamination flags: (doc_id, source,
    flagged). The eval shingles build a fixed-size bitmap (one
    aggregation, bounded by the bitmap, not the eval set); every
    training document probes it map-side via exists() over its shingle
    array — the corpus is never exploded, joined, or shuffled. No
    false negatives by construction (operators/bloom.py): every truly
    contaminated document is flagged; a tunable trickle of false
    positives over-removes, the conservative direction."""
    sh = docs.select(
        "doc_id",
        "source",
        shingles(tokens("text"), _DECON_SHINGLE_N).alias("grams"),
    )
    eval_keys = sh.where(F.col("doc_id") < _EVAL_MAX_ID).select(
        F.explode("grams").alias("g")
    )
    bloom = bloom_build(eval_keys, "g")
    train = sh.where(F.col("doc_id") >= _EVAL_MAX_ID)
    return train.crossJoin(F.broadcast(bloom)).select(
        "doc_id",
        "source",
        F.exists(
            "grams", lambda g: bloom_contains(F.col("bloom"), g)
        ).alias("flagged"),
    )


@register("ext_decontamination_bloom")  # xxhash64 bitmap -> rows-only
def ext_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONSTANT-BROADCAST tier of benchmark decontamination: the
    exact screen (ext_decontamination) broadcasts the eval shingle set
    itself and stops scaling when that set is corpus-class (thousand-
    benchmark unions, previous-dump paragraph hashes, URL frontiers);
    this tier broadcasts a fixed 128 KiB Bloom bitmap instead, keeping
    the screen one map-side corpus scan at ANY screened-set size, at
    the price of a tunable false-positive trickle (over-removal — the
    conservative direction) and never a false negative. Per-source
    report with the same shape as the exact tier; the guarantee tests
    pin flags(exact) ⊆ flags(bloom) and the FP rate bound."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    flags = bloom_flag_docs(docs)
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.count(F.when(F.col("flagged"), 1)).alias("n_flagged"),
        (
            F.count(F.when(F.col("flagged"), 1)).cast("double")
            / F.count(F.lit(1))
        ).alias("flag_rate"),
    )
