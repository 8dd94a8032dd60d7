"""Deterministic training-shard layout — the write-side step a
training-data pipeline runs LAST, after curation / dedup / budget
sampling (ext_token_budget_sample, ext_dataset_split): assign every
surviving document to one of N output shards by a SEEDED hash, fix a
reproducible order WITHIN each shard, and emit a per-shard manifest
(doc count, token count, order-boundary keys) so a training job can
verify what it is about to read. The reproducible-corpus analogue of
the reference's batched sink (op 02 — hand-batched INSERT text,
` loadAnalyticsDB...R`:106-134,445-519): where the reference batches
rows INTO a database in arrival order, a 100 TB corpus must batch into
files whose membership AND internal order are pure functions of the
data, so two runs of the pipeline (or two engines) produce
byte-identical shards.

Determinism convention: both the shard assignment and the within-shard
order derive from md5 of a seed-prefixed document key — the engine-wide
md5 convention established by ext_hash_sample / llm_curation (md5 is
bit-identical across Spark and DuckDB, so the layout is
engine-portable and the DuckDB oracle checks it EXACTLY, position by
position). The seed prefix keeps shard placement independent of every
other md5-derived decision in the pipeline (a doc's sample-keep
uniform and its shard are uncorrelated).

Spark-first shape — NO GLOBAL SORT (round-10 verdict task #5): shard
assignment is a map-side expression; the within-shard position is a
row_number window PARTITIONED BY shard, i.e. ONE hash exchange on the
shard id followed by a sort WITHIN each partition — at 100 TB the sort
unit is a shard (corpus/N), never the corpus, and shards write in
parallel. A rangepartitioning/global-Sort anywhere in this plan would
be the wrong engine shape; tests/test_plans.py pins its absence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import token_count
from ..sources import ensure_parallelism, load_table
from .llm_curation import _uniform_expr
from .registry import register

# Shard count for the registered observability queries — a deployment
# parameter of the builder (real corpora size shards to ~a few hundred
# MB of tokens; the layout logic is count-independent).
N_SHARDS = 64
_SEED = "s0"


def _keyed(docs: DataFrame, n_shards: int, seed: str) -> DataFrame:
    """(doc_id, n_tokens, okey, shard): the seeded order key and shard
    assignment. okey = md5('shard:{seed}:' || doc_id) — one hash serves
    both decisions: its first 6 nibbles (as a uniform, the
    llm_curation convention) pick the shard, the full hex string is the
    within-shard order key. Both map-side; the shared-SQL spelling is
    evaluated by Spark and DuckDB alike so the layout is bit-identical
    cross-engine."""
    key_sql = f"('shard:{seed}:' || CAST(doc_id AS STRING))"
    shard_sql = f"CAST(floor({_uniform_expr(key_sql)} * {n_shards}) AS INT)"
    n_toks = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        token_count("text")
    )
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.expr(f"md5({key_sql})").alias("okey"),
        F.expr(shard_sql).alias("shard"),
    )


def shard_layout(
    docs: DataFrame, *, n_shards: int = N_SHARDS, seed: str = _SEED
) -> DataFrame:
    """Per-document shard placement: (doc_id, shard, pos, n_tokens),
    where pos is the document's 1-based position within its shard under
    the md5 order (doc_id tiebreak — unreachable at md5 collision odds,
    pinned for absolute determinism). One hash exchange on shard +
    within-partition sort; no global sort (see module doc)."""
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return _keyed(docs, n_shards, seed).select(
        "doc_id",
        "shard",
        F.row_number().over(w).alias("pos"),
        "n_tokens",
    )


def shard_manifest(
    docs: DataFrame, *, n_shards: int = N_SHARDS, seed: str = _SEED
) -> DataFrame:
    """Per-shard manifest: (shard, n_docs, n_tokens, first_key,
    last_key) — the row a training job checks before reading a shard
    (and the boundary keys let a reader verify the shard's internal md5
    order without trusting the writer). One partial-aggregated groupBy
    on the shard id; shards the hash leaves empty simply have no row
    (the oracle agrees — GROUP BY emits observed groups only)."""
    return (
        _keyed(docs, n_shards, seed)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("okey").alias("first_key"),
            F.max("okey").alias("last_key"),
        )
    )


def _oracle_keyed(n_shards: int, seed: str) -> str:
    key_sql = f"('shard:{seed}:' || CAST(doc_id AS STRING))"
    return f"""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN 0
                ELSE len(string_split(lower(text), ' ')) END AS n_tokens,
           md5({key_sql}) AS okey,
           CAST(floor({_uniform_expr(key_sql)} * {n_shards}) AS INT) AS shard
    FROM documents
    """


@register(
    "ext_shard_layout",
    oracle=f"""
    WITH k AS ({_oracle_keyed(N_SHARDS, _SEED)})
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY shard ORDER BY okey, doc_id
           ) AS INT) AS pos,
           CAST(n_tokens AS INT) AS n_tokens
    FROM k
    """,
)
def ext_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard layout over the documents table
    (see module doc): seeded md5 shard assignment + exact within-shard
    position, checked position-by-position against the DuckDB twin —
    the layout is a pure function of the data, so the oracle pins full
    cross-engine reproducibility, not just membership."""
    out = shard_layout(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    return out.select(
        "doc_id", "shard", "pos", F.col("n_tokens").cast("int").alias("n_tokens")
    )


@register(
    "ext_shard_manifest",
    oracle=f"""
    WITH k AS ({_oracle_keyed(N_SHARDS, _SEED)})
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(okey) AS first_key,
           MAX(okey) AS last_key
    FROM k GROUP BY shard
    """,
)
def ext_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest of ext_shard_layout (doc/token totals +
    order-boundary md5 keys per shard) — the verification row a reader
    consults; totals reconcile against the layout by construction
    (pinned in tests/test_function_models.py)."""
    return shard_manifest(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
