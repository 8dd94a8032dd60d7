"""Corpus curation for LLM training: domain-mixture rebalancing and
benchmark decontamination — the two governance ops every training-data
pipeline runs after dedup/quality filtering (north-star surface,
BASELINE.json; complements ext_hash_sample / ext_dedup_* /
ext_stratified_sample).

Both are deterministic end-to-end: sampling decisions come from md5 of
the document key (partition-layout-independent, reproducible across
engines — the engine-wide convention established by ext_hash_sample),
and contamination matching uses exact 8-token shingles, no probabilistic
sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens
from ..functions.vectors import cosine, oracle_cosine, to_double_vec
from ..sources import ensure_parallelism, load_table
from .registry import register

# md5-derived uniform in [0, 1): fold the first 6 hex chars to an integer
# via digit lookup — both engines share instr/substr, so the value is
# bit-identical (DuckDB has no conv(); hex parsing must be spelled out).
_HEX = "0123456789abcdef"


def _uniform_expr(key_sql: str) -> str:
    """SQL (valid in BOTH Spark SQL and DuckDB) for a deterministic
    uniform from md5(key): first 6 hex nibbles -> int / 16^6."""
    # STRING (not bare VARCHAR): Spark requires a length on VARCHAR,
    # DuckDB accepts STRING as a VARCHAR alias — one spelling, two engines
    h = f"md5(CAST({key_sql} AS STRING))"
    nibbles = " + ".join(
        f"(instr('{_HEX}', substr({h}, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"(({nibbles}) / 16777216.0)"


@register(
    "ext_corpus_rebalance",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM counts
    ),
    rates AS (
      SELECT source, n_docs,
             least(1.0, CAST(total AS DOUBLE) / (n_sources * n_docs)) AS rate
      FROM counts CROSS JOIN tot
    )
    SELECT d.source, r.n_docs, r.rate,
           COUNT(*) FILTER (WHERE {_uniform_expr("d.doc_id")} < r.rate)
             AS n_sampled
    FROM documents d JOIN rates r ON d.source = r.source
    GROUP BY d.source, r.n_docs, r.rate
    """,
)
def ext_corpus_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing toward a uniform source mix: each
    source gets sampling rate min(1, total/(n_sources·n_docs)) —
    over-represented domains are down-sampled, the rest kept whole —
    and documents are kept by a reproducible md5-uniform draw, so the
    same corpus always yields the same mixture (re-runs and engines
    agree; rand() would give neither).

    The rate table is domain-sized and broadcast; the keep-decision is
    one hash per row evaluated map-side; output is one row per source.
    This is the 'data mixing' step training pipelines apply between
    curation and tokenization."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            F.col("total").cast("double") / (F.col("n_sources") * F.col("n_docs")),
        ).alias("rate"),
    )
    kept = F.expr(_uniform_expr("doc_id")) < F.col("rate")
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "rate")
        .agg(F.count(F.when(kept, 1)).alias("n_sampled"))
    )


_SHINGLE_N = 8


@register(
    "ext_decontamination",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {_SHINGLE_N - 1}, 0) + 1),
               i -> {" || ' ' || ".join(f"toks[i + {j}]" for j in range(_SHINGLE_N))}
             )) AS grams
      FROM t
    ),
    eval_sh AS (
      SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id < 10
    ),
    contaminated AS (
      SELECT DISTINCT s.doc_id
      FROM (SELECT doc_id, unnest(grams) AS g FROM sh WHERE doc_id >= 10) s
      JOIN eval_sh e ON s.g = e.g
    )
    SELECT t.source,
           COUNT(*) AS n_train_docs,
           COUNT(c.doc_id) AS n_contaminated,
           CAST(COUNT(c.doc_id) AS DOUBLE) / COUNT(*) AS contamination_rate
    FROM t LEFT JOIN contaminated c ON t.doc_id = c.doc_id
    WHERE t.doc_id >= 10
    GROUP BY t.source
    """,
)
def ext_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination audit: training documents (doc_id >=
    10) sharing ANY exact 8-token shingle with the held-out set (doc_id
    < 10) are flagged, reported per source — the overlap screen run
    before any benchmark number is trusted.

    The eval shingle set is benchmark-sized: it collapses to ONE array
    riding a broadcast, and every training document runs a map-side
    arrays_overlap probe against it — the training side is never
    exploded and never shuffled (an explode+join spelling shuffles
    corpus x shingles rows to dedupe doc ids). Cost is one linear scan of the corpus regardless of size;
    only the final per-source aggregate exchanges."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", "source", shingles(tokens("text"), _SHINGLE_N).alias("grams")
    )
    eval_grams = (
        sh.where(F.col("doc_id") < 10)
        .select(F.explode("grams").alias("g"))
        .distinct()
        .agg(F.collect_set("g").alias("eval_grams"))
    )
    train = sh.where(F.col("doc_id") >= 10)
    contaminated = F.arrays_overlap(F.col("grams"), F.col("eval_grams"))
    return (
        train.crossJoin(F.broadcast(eval_grams))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.count(F.when(contaminated, 1)).alias("n_contaminated"),
            (
                F.count(F.when(contaminated, 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("contamination_rate"),
        )
    )


@register(
    "ext_sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM toks
    )
    SELECT doc_id, lang, n_tokens,
           (cum - n_tokens) // 2048 AS shard_id,
           (cum - n_tokens) % 2048 AS shard_offset
    FROM c
    """,
)
def ext_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing: documents stream into fixed 2048-token
    shards per language in deterministic doc_id order — each doc is
    assigned the shard where its first token lands (running token total
    via prefix sum; a doc spanning a boundary continues into the next
    shard, the standard concat-then-chunk packing). The prefix sum runs
    as a per-language cumulative window; at 100 TB a 5-value partition
    key is a skew hazard, and the scalable variant is the bucketed
    two-pass prefix sum of etl/star.py:_global_index (per-bucket sums +
    broadcast offsets) — documented here, window-form kept because the
    spine of this op is the deterministic order, not the mechanism.
    All arithmetic is exact integer division/modulo."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return toks.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(
            "(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ASC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) "
            "div 2048"
        ).alias("shard_id"),
        F.expr(
            "(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ASC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) "
            "% 2048"
        ).alias("shard_offset"),
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data governance: scrub before training)
# ---------------------------------------------------------------------------

# Driver testdata carries no native PII columns (slim customer table), so
# the contact text is RENDERED deterministically from keys on both
# engines: a phone in NN-NNN-NNN-NNNN layout plus an account-id digit
# run, then redacted. Simple character-class regexes evaluate
# identically in Java (Spark) and RE2 (DuckDB); DuckDB's regexp_replace
# needs the 'g' flag to match Spark's replace-all.
_PHONE_RE = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
_DIGITS_RE = "[0-9]{5,}"

_PHONE_SQL = (
    "concat(CAST(10 + c_custkey % 90 AS STRING), '-', "
    "lpad(CAST(c_custkey % 1000 AS STRING), 3, '0'), '-', "
    "lpad(CAST((c_custkey * 7) % 1000 AS STRING), 3, '0'), '-', "
    "lpad(CAST((c_custkey * 13) % 10000 AS STRING), 4, '0'))"
)
_TXT_SQL = (
    "concat_ws(' ', c_name, 'reach at', " + _PHONE_SQL + ", "
    "'account', concat('ref', lpad(CAST(c_custkey * 17 AS STRING), 8, '0')), "
    "c_mktsegment)"
)


@register(
    "ext_pii_redact",
    oracle=f"""
    WITH t AS (
      SELECT c_custkey, {_TXT_SQL} AS txt FROM customer
    )
    SELECT c_custkey,
           regexp_replace(regexp_replace(txt, '{_PHONE_RE}', '[PHONE]', 'g'),
                          '{_DIGITS_RE}', '[NUM]', 'g') AS redacted,
           CAST(len(regexp_extract_all(txt, '{_PHONE_RE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(txt, '{_DIGITS_RE}')) AS INT) AS n_digit_runs
    FROM t
    """,
)
def ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a customer-contact text rendering: phone
    patterns and long digit runs are replaced with typed placeholders,
    with per-row redaction counts for audit. Pure regexp expressions in
    whole-stage codegen — a map-only pass at any corpus size (the
    standard pre-training scrub step; redaction is deterministic so
    reruns are idempotent). Phones redact BEFORE digit runs so the
    narrower typed pattern wins where both match. The contact text
    itself is rendered from keys (identical SQL on both engines) because
    the slim driver testdata ships no native PII columns."""
    c = load_table(spark, sf_dir, "customer")
    t = c.selectExpr("c_custkey", f"{_TXT_SQL} AS txt")
    return t.select(
        "c_custkey",
        F.regexp_replace(
            F.regexp_replace("txt", _PHONE_RE, "[PHONE]"), _DIGITS_RE, "[NUM]"
        ).alias("redacted"),
        F.size(F.regexp_extract_all("txt", F.lit(_PHONE_RE), 0)).cast("int").alias("n_phones"),
        F.size(F.regexp_extract_all("txt", F.lit(_DIGITS_RE), 0)).cast("int").alias("n_digit_runs"),
    )


# ---------------------------------------------------------------------------
# Paragraph-level dedup (C4-style: drop repeated passages corpus-wide,
# keep the first occurrence, reassemble documents)
# ---------------------------------------------------------------------------

_PARA = 16  # tokens per paragraph-proxy chunk (the corpus has no line breaks)


@register(
    "ext_dedup_paragraphs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), n AS (
      SELECT doc_id, toks, len(toks) AS n,
             GREATEST(1, CAST(ceil(len(toks) / {_PARA}.0) AS INT)) AS nc
      FROM t
    ), c AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(
               list_slice(toks, 1 + i*{_PARA}, LEAST((i+1)*{_PARA}, n)), ' ')
               AS chunk_text
      FROM n, LATERAL unnest(generate_series(0, nc - 1)) AS u(i)
    ), k AS (
      SELECT doc_id, chunk_idx, chunk_text,
             struct_pack(d := doc_id, i := chunk_idx) =
               MIN(struct_pack(d := doc_id, i := chunk_idx))
                 OVER (PARTITION BY chunk_text)
               AS kept
      FROM c
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_paragraphs,
           CAST(COUNT(*) FILTER (WHERE kept) AS INT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE kept) AS DOUBLE) / COUNT(*) AS retained_frac,
           COALESCE(string_agg(CASE WHEN kept THEN chunk_text END, ' '
                               ORDER BY chunk_idx), '') AS retained_text
    FROM k GROUP BY doc_id
    """,
)
def ext_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style passage-level dedup: documents split into {_PARA}-token
    paragraph proxies (the fixture corpus has no line breaks), each
    distinct passage kept only at its FIRST corpus occurrence
    (lexicographic MIN over the (doc_id, chunk_idx) STRUCT —
    collision-free at any document size, round-10 fix of the collapsed
    doc_id*100000+idx long that cross-wired attribution past 100k
    chunks), documents reassembled from surviving passages with a
    retained fraction for
    downstream quality filtering. The dedup decision is one shuffle on
    passage text (hash-aggregatable window, no sort); reassembly is a
    per-document sort of a bounded chunk list. This is the sub-document
    twin of ext_dedup_exact — repeated boilerplate dies corpus-wide even
    when full documents differ."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", tokens("text").alias("toks"))
    n = F.size("toks")
    nc = F.greatest(F.lit(1), F.ceil(n / F.lit(float(_PARA))).cast("int"))
    chunks = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), nc - 1)).alias("chunk_idx"),
        "toks",
    ).select(
        "doc_id",
        "chunk_idx",
        F.array_join(F.slice("toks", F.col("chunk_idx") * _PARA + 1, _PARA), " ").alias(
            "chunk_text"
        ),
    )
    okey = F.struct(F.col("doc_id").alias("d"), F.col("chunk_idx").alias("i"))
    # groupBy+join, NOT a window over chunk_text: a boilerplate passage
    # repeated millions of times is one hot key — a window partition is
    # unsplittable, while the aggregate gets map-side combine (min) and
    # the join back gets AQE skew-splitting. Same result, skew-safe.
    firsts = (
        chunks.groupBy("chunk_text").agg(F.min(okey).alias("_first_key"))
    )
    k = chunks.join(firsts, "chunk_text").withColumn(
        "kept", okey == F.col("_first_key")
    )
    kept_struct = F.when(
        F.col("kept"), F.struct(F.col("chunk_idx"), F.col("chunk_text"))
    )
    return (
        k.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_paragraphs"),
            F.count(F.when(F.col("kept"), 1)).cast("int").alias("n_kept"),
            F.sort_array(F.collect_list(kept_struct)).alias("_kept"),
        )
        .select(
            "doc_id",
            "n_paragraphs",
            "n_kept",
            (F.col("n_kept").cast("double") / F.col("n_paragraphs").cast("double")).alias(
                "retained_frac"
            ),
            F.array_join(
                F.transform("_kept", lambda s: s["chunk_text"]), " "
            ).alias("retained_text"),
        )
    )


@register(
    "ext_semantic_decontamination",
    oracle=f"""
    SELECT t.vec_id,
           MAX({oracle_cosine("t.embedding", "e.embedding")}) AS max_eval_cos,
           MAX({oracle_cosine("t.embedding", "e.embedding")}) >= 0.3
             AS contaminated
    FROM embeddings t
    JOIN embeddings e ON e.vec_id < 8
    WHERE t.vec_id >= 8
    GROUP BY t.vec_id
    """,
)
def ext_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level benchmark decontamination — the SEMANTIC twin of
    ext_decontamination's exact-shingle screen: a training example whose
    embedding sits too close to ANY held-out example (vec_id < 8 is the
    eval set) is flagged even when no 8-gram matches (paraphrase-style
    contamination, the leak n-gram screens miss). Eval embeddings ride a
    broadcast against the training scan; max-cosine reduces with
    map-side combine keyed on the training id, so the corpus is scanned
    once and shuffles only ~one row per training vector. The cosine is
    the bit-exact left-to-right fold, so flags match the oracle with no
    tolerance."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    ev = emb.where(F.col("vec_id") < 8).select(
        to_double_vec(F.col("embedding")).alias("evec")
    )
    tr = emb.where(F.col("vec_id") >= 8).select(
        "vec_id", to_double_vec(F.col("embedding")).alias("tvec")
    )
    scored = tr.crossJoin(F.broadcast(ev)).select(
        "vec_id", cosine(F.col("tvec"), F.col("evec")).alias("cos")
    )
    return scored.groupBy("vec_id").agg(
        F.max("cos").alias("max_eval_cos"),
        (F.max("cos") >= 0.3).alias("contaminated"),
    )


@register(
    "ext_mixture_temperature",
    oracle="""
    WITH counts AS MATERIALIZED (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    d AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
             list_reduce(
               list_prepend(0.0, list_sort(list(sqrt(CAST(n_tokens AS DOUBLE))))),
               (acc, x) -> acc + x
             ) AS denom
      FROM counts
    )
    SELECT c.source, c.n_docs, c.n_tokens,
           sqrt(CAST(c.n_tokens AS DOUBLE)) / d.denom AS weight,
           CAST(d.total AS DOUBLE)
             * (sqrt(CAST(c.n_tokens AS DOUBLE)) / d.denom) AS expected_tokens,
           CAST(d.total AS DOUBLE)
             * (sqrt(CAST(c.n_tokens AS DOUBLE)) / d.denom)
             / CAST(c.n_tokens AS DOUBLE) AS epochs
    FROM counts c CROSS JOIN d
    """,
)
def ext_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (the multilingual-sampling
    convention popularized by mBERT/mT5): source s is sampled with
    weight w_s ∝ p_s^α at α = 0.5, flattening the natural token
    distribution so over-represented domains stop drowning the tail —
    the knob between ext_corpus_rebalance's hard-uniform mix and the
    natural mix. α = 0.5 is deliberately sqrt, the one power IEEE 754
    requires correctly rounded, so both engines produce bit-identical
    weights (an arbitrary pow() would differ in the last ulp between
    libm implementations). Since w_s = sqrt(n_s)/Σ sqrt(n_s), the
    normalizer over sources is a SORTED left-to-right double fold
    (sort_array + aggregate == list_sort + list_reduce) — the exact-
    moments discipline; a bare SUM of doubles is partition-order-
    dependent. 'epochs' is each source's repetition factor when the
    mixture is sampled back to the corpus's own token total — the
    data-constrained-scaling readout (how many passes the tail domains
    must make). Cost: one map-side-combined aggregate over the corpus,
    then arithmetic on an n_sources-row broadcast; nothing here grows
    with corpus size except the first scan."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )
    d = counts.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.aggregate(
            F.sort_array(F.collect_list(F.sqrt(F.col("n_tokens").cast("double")))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("denom"),
    )
    w = F.sqrt(F.col("n_tokens").cast("double")) / F.col("denom")
    return counts.crossJoin(F.broadcast(d)).select(
        "source",
        "n_docs",
        "n_tokens",
        w.alias("weight"),
        (F.col("total").cast("double") * w).alias("expected_tokens"),
        (F.col("total").cast("double") * w / F.col("n_tokens").cast("double")).alias(
            "epochs"
        ),
    )


@register(
    "ext_token_budget_sample",
    oracle="""
    WITH tok AS MATERIALIZED (
      SELECT source, doc_id, md5(CAST(doc_id AS STRING)) AS h,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    tot AS (
      SELECT CAST(SUM(nt) AS BIGINT) AS total,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS ns
      FROM tok
    ),
    cum AS (
      SELECT source, nt,
             COALESCE(SUM(nt) OVER (
               PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prior
      FROM tok
    )
    SELECT c.source,
           (t.total // (2 * t.ns)) AS budget_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c.nt) AS BIGINT) AS tokens_total,
           CAST(COUNT(*) FILTER (WHERE c.prior < t.total // (2 * t.ns))
                AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(c.nt) FILTER (WHERE c.prior < t.total // (2 * t.ns)), 0)
                AS BIGINT) AS tokens_kept
    FROM cum c CROSS JOIN tot t
    GROUP BY c.source, t.total, t.ns
    """,
)
def ext_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus fill: each source contributes documents in a
    deterministic md5-shuffled order until its token budget is reached
    (budget = half the uniform per-source share), the step that turns
    mixture WEIGHTS into an actual training corpus. Greedy rule: a doc
    is kept iff the tokens BEFORE it in hash order are under budget, so
    exactly one doc may straddle the boundary — reproducible, engine-
    portable, no rand().

    Scale design — the naive spelling is one window per source
    (PARTITION BY source ORDER BY hash), and a 100 TB corpus with a
    handful of sources makes each partition an unsplittable sequential
    scan. Instead the hash order is split on its own 2-hex-digit PREFIX
    into 256 bins: bin totals aggregate map-side into an
    (n_sources x 256)-row broadcast, bins fully under budget keep all
    docs and bins past it drop all docs with NO window at all, and only
    the one boundary bin per source runs the exact within-bin cumsum —
    a window over 1/256th of a source, 256-way-parallel and shrinking
    with corpus growth. Ordering by (prefix, full hash) equals ordering
    by full hash, so the result is identical to the oracle's plain
    per-source window.

    Optimization round 10 (guide §2.4 "shuffle/scan less"): the original
    spelling split docs into decided (no window) and boundary (window)
    branches and unioned them — but each branch re-derived the tokenized
    corpus, and column pruning specializes the duplicated subtrees so
    AQE cannot reuse them: the corpus was scanned + split(text) THREE
    times (runtime plan confirmed; the round-robin exchange deduped but
    the tokenize projections did not). Since bin is a PREFIX of the
    hash order, per-source prior = bin_prior + within-bin prior exactly,
    so ONE window over (source, bin) computes kept for every row —
    below-budget bins are provably all-kept and above-budget bins
    all-dropped under the same formula, so the union and its duplicate
    subtrees vanish. The trade is explicit: the 255/256 non-boundary
    bins now pay a within-partition sort of ~40-byte rows, and the
    engine saves one full corpus tokenization pass (split of every
    text byte) — narrow-row sorting is orders cheaper than re-reading
    and re-splitting text at any scale. 3 tokenize passes -> 2 (the
    bin-stats aggregate is the irreducible second pass: the budget is
    a global total, so it must be known before any per-doc decision).

    Optimization round 11 (guide §2.4, verdict next-round #4): 2 -> 1.
    The bin-stats aggregate cannot be computed after the per-doc
    decision, but it CAN share the decision pass's exchange: one
    explicit repartition(source, bin) feeds BOTH the window and the
    bin aggregate. Two things used to specialize the duplicated
    exchange subtree and defeat AQE stage reuse (round-10 finding):
    (a) column pruning — the aggregate branch demands only (source,
    bin, nt), so its copy of the exchange dropped h/doc_id; a
    value-neutral guard term in the aggregate (0 * min(xxhash64(h,
    doc_id)) — Catalyst cannot fold 0 * x because 0 * NULL is NULL)
    pins the aggregate's column set to the window branch's; (b) the
    inner join's inferred IsNotNull(source/bin) filters pushed below
    the probe side's repartition — the join now keys on eqNullSafe
    (<=>), which infers no null-rejecting filter AND matches the
    oracle's GROUP BY semantics on hypothetical NULL sources where a
    plain `=` join would silently drop the group. Verified at runtime
    (executed-plan explainString, the repo's method): documents is
    scanned and tokenized ONCE, the second consumer reads a
    ReusedExchange. Token counting itself also dropped the split():
    len(split(text, ' ')) == count(' ') + 1 by definition of split
    (empties kept), so nt is two length() calls and a replace — no
    token-array allocation on either pass at any scale."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    nt = F.when(
        F.col("text").isNotNull(),
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1,
    ).cast("long")
    tok = docs.select(
        "source",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        nt.alias("nt"),
    ).withColumn("bin", F.substring("h", 1, 2))
    shared = tok.repartition("source", "bin")

    # value-neutral pruning guard: keeps (h, doc_id) in THIS branch's
    # demand so both consumers' exchange subtrees stay canonically equal
    guard = F.coalesce(F.min(F.xxhash64("h", "doc_id")) * F.lit(0), F.lit(0))
    binagg = shared.groupBy("source", "bin").agg(
        (F.sum("nt") + guard).alias("bin_sum")
    )
    # ns via per-source re-aggregate, NOT count_distinct: a distinct
    # aggregate makes Spark plan a different partial-agg tree under tot
    # than under binmeta, so the two (source, bin) exchanges stop being
    # canonically equal and AQE cannot reuse the stage — count_distinct
    # here cost a whole extra corpus tokenization (runtime-plan-verified).
    # binagg has exactly one row per present (source, bin), so counting
    # its per-source groups IS count_distinct(source) over the corpus.
    tot = (
        binagg.groupBy("source")
        .agg(F.sum("bin_sum").alias("src_sum"))
        .agg(
            F.sum("src_sum").cast("long").alias("total"),
            F.count(F.lit(1)).cast("long").alias("ns"),
        )
    )
    wbin = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binmeta = (
        binagg.withColumn("bin_prior", F.coalesce(F.sum("bin_sum").over(wbin), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .withColumn("budget", F.expr("total div (2 * ns)"))
        .select("source", "bin", "bin_prior", "budget")
    )
    bm = binmeta.select(
        F.col("source").alias("_bsource"),
        F.col("bin").alias("_bbin"),
        "bin_prior",
        "budget",
    )
    t = shared.join(
        F.broadcast(bm),
        F.col("source").eqNullSafe(F.col("_bsource"))
        & F.col("bin").eqNullSafe(F.col("_bbin")),
    ).drop("_bsource", "_bbin")

    wdoc = (
        Window.partitionBy("source", "bin")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        t.withColumn(
            "kept",
            (F.col("bin_prior") + F.coalesce(F.sum("nt").over(wdoc), F.lit(0)))
            < F.col("budget"),
        )
        .groupBy("source", "budget")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("tokens_total"),
            F.count(F.when(F.col("kept"), 1)).cast("long").alias("n_kept"),
            F.coalesce(F.sum(F.when(F.col("kept"), F.col("nt"))), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
        )
        .withColumnRenamed("budget", "budget_tokens")
        .select(
            "source", "budget_tokens", "n_docs", "tokens_total", "n_kept", "tokens_kept"
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

_KANON_K = 5
_KANON_BAND = 4000.0


@register(
    "ext_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT CAST(c_nationkey AS INT) AS nationkey,
             c_mktsegment AS segment,
             CAST(floor(c_acctbal / {_KANON_BAND}) AS BIGINT) AS bal_band
      FROM customer
    )
    SELECT nationkey, segment, bal_band,
           CAST(COUNT(*) AS BIGINT) AS group_n,
           COUNT(*) >= {_KANON_K} AS k_anonymous
    FROM qi
    GROUP BY nationkey, segment, bal_band
    """,
)
def ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer table: every
    quasi-identifier equivalence class — (nation, market segment,
    account-balance band) — with its size and whether it meets k={_KANON_K}.
    Classes below k are re-identification risks; this is the privacy
    screen a training pipeline runs BEFORE releasing or joining
    customer-derived features (the structured-data sibling of
    ext_pii_redact's free-text scrub).

    The balance band generalizes the continuous column the way
    k-anonymization generalizes birth dates to years: floor(x / width)
    — one correctly-rounded double division then floor, identical in
    both engines (no decimal quantization boundary).

    Scale: one map-side-combined groupBy on the QI tuple; cardinality
    is the product of the generalized domains (25 nations x 5 segments
    x ~7 bands), independent of row count — the aggregate never grows
    with the corpus, and no per-row data leaves the executors."""
    cust = ensure_parallelism(load_table(spark, sf_dir, "customer"))
    qi = cust.select(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / F.lit(_KANON_BAND)).alias("bal_band"),
    )
    return qi.groupBy("nationkey", "segment", "bal_band").agg(
        F.count(F.lit(1)).cast("long").alias("group_n"),
        (F.count(F.lit(1)) >= _KANON_K).alias("k_anonymous"),
    )


# ---------------------------------------------------------------------------
# Laplace-mechanism noisy counts (reproducible-noise tier)
# ---------------------------------------------------------------------------

_DP_EPS = 1.0  # Laplace scale b = sensitivity/epsilon = 1/eps for counts


def _laplace_noise_sql(key_sql: str) -> str:
    """Seeded Laplace draw via inverse CDF on the md5-uniform of the
    group key: -b * sign(u - 0.5) * ln(1 - 2|u - 0.5|). The ln is
    rounded to 6 decimals and cast DECIMAL before use (engine libm
    differs in the last ulp — the TF-IDF convention), so noise and the
    noisy count are bit-identical cross-engine. The 1e-12 floor guards
    the u = 0.5 pole."""
    u = _uniform_expr(key_sql)
    mag = f"greatest(1.0 - 2.0 * abs({u} - 0.5), 1e-12)"
    sign = f"(CASE WHEN {u} >= 0.5 THEN 1.0 ELSE -1.0 END)"
    return (
        f"CAST(ROUND(-(1.0 / {_DP_EPS}) * {sign} * ln({mag}), 6)"
        f" AS DECIMAL(20,6))"
    )


@register(
    "ext_dp_noisy_counts",
    oracle=f"""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_c
      FROM events GROUP BY event_type
    )
    SELECT event_type, true_c,
           {_laplace_noise_sql("event_type")} AS noise,
           CAST(true_c + {_laplace_noise_sql("event_type")}
                AS DECIMAL(24,6)) AS noisy_c,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon
    FROM g
    """,
)
def ext_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism count release (Dwork et al. 2006): per-group
    counts plus Laplace(1/epsilon) noise at epsilon = {_DP_EPS} — the
    aggregate-release step of a privacy pipeline, completing the trio
    with ext_pii_redact (free text) and ext_k_anonymity (row release).

    Stated honestly: the noise is SEEDED from the group key (the
    engine's reproducible-randomness convention — rand() would break
    both re-runs and the oracle), which demonstrates the mechanism's
    dataflow and calibration but is NOT differential privacy (real DP
    requires fresh secret randomness per release; swap the md5-uniform
    for a secure draw in deployment). The true counts are emitted
    alongside as the audit view.

    Scale: one map-side-combined groupBy; noise is one hash + one
    fixed-shape expression per GROUP (not per row) — output cardinality
    is the group count regardless of corpus size."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_c")
    )
    noise = F.expr(_laplace_noise_sql("event_type"))
    return g.select(
        "event_type",
        "true_c",
        noise.alias("noise"),
        (F.col("true_c") + noise).cast("decimal(24,6)").alias("noisy_c"),
        F.lit(_DP_EPS).alias("epsilon"),
    )


# ---------------------------------------------------------------------------
# Persisted dedup index: ingest-time near-dup probe against an indexed corpus
# ---------------------------------------------------------------------------

_DEDUP_INDEX_CACHE: dict = {}
_DEDUP_INDEX_DIRS: list = []
_PROBE_BELOW = 100  # the "new batch": doc_id < 100; the corpus: the rest


@register("ext_dedup_index_probe")  # hash-seeded banding -> rows-only check
def ext_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile

    from ..operators.dedup_index import build_dedup_index, probe_dedup_index

    docs = load_table(spark, sf_dir, "documents")
    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    # isfile decides the key shape (not try/stat: os.stat succeeds on a
    # directory and its inode stats miss in-place rewrites — see the
    # twin comment in extensions.ext_knn_ivf_persisted)
    if _os.path.isfile(src):
        st = _os.stat(src)
        fp = (st.st_size, st.st_mtime_ns)
    else:
        fp = None
    key = (sf_dir.rstrip("/"), fp)
    idx = _DEDUP_INDEX_CACHE.get(key)
    if idx is None or not _os.path.isdir(f"{idx}/bands"):
        idx = tempfile.mkdtemp(prefix="dedup_index_")
        _DEDUP_INDEX_DIRS.append(idx)
        build_dedup_index(docs.where(F.col("doc_id") >= _PROBE_BELOW), idx)
        _DEDUP_INDEX_CACHE[key] = idx
    batch = docs.where(F.col("doc_id") < _PROBE_BELOW)
    return probe_dedup_index(spark, idx, batch)


ext_dedup_index_probe.__doc__ = """Ingest-time dedup against a PERSISTED MinHash index
(operators/dedup_index.py): the corpus (doc_id >= {lo}) is
signatured and written as an LSH band table + token-hash side table
ONCE; the probe then dedups the "new batch" (doc_id < {lo}) against
it — (probe_id, corpus_id, jaccard), exact Jaccard >= 0.9 on the
shared banding's candidates. This is the build/probe split every
production ingest pipeline runs (new data never triggers a corpus
re-signature), completing the dedup story the way
ext_knn_ivf_persisted completes ANN.

Plan shape: the probe batch BROADCASTS into the index scans — the
corpus side is read, never shuffled or re-signatured. All hashing
and verify expressions are shared with ext_dedup_minhash
(operators/dedup.py builders), so the probe's pair decisions are
bit-identical to the batch op restricted to cross-split pairs —
pinned by tests/test_dedup_recall.py. Index cached per (sf_dir,
corpus fingerprint), the ext_knn_ivf_persisted convention.""".format(
    lo=_PROBE_BELOW
)

def _reap_dedup_index_dirs() -> None:
    import shutil

    for d in _DEDUP_INDEX_DIRS:
        shutil.rmtree(d, ignore_errors=True)


import atexit  # noqa: E402  (registration belongs next to the dir list)

atexit.register(_reap_dedup_index_dirs)


# ---------------------------------------------------------------------------
# Span corruption: masked-span (input, target) training-pair generation
# ---------------------------------------------------------------------------

_SPAN_LEN = 3  # tokens per maskable block
_SPAN_RATE = 0.25  # fraction of blocks masked


def _span_uniform(key) -> "F.Column":
    """Column-side twin of :func:`_uniform_expr` (which is a SQL string —
    unusable inside higher-order-function lambdas): md5's first 6 hex
    nibbles as an integer over 16^6. Spark's conv(hex, 16, 10) equals
    the oracle's instr-based nibble sum digit for digit, so the uniform
    is bit-identical across engines."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 6), 16, 10).cast(
        "double"
    ) / F.lit(16777216.0)


@register(
    "ext_span_corruption",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ),
    bseq AS MATERIALIZED (
      SELECT doc_id, toks,
             CAST(unnest(range(0, CAST(ceil(len(toks) / {_SPAN_LEN}.0) AS BIGINT)))
               AS INT) AS b
      FROM t
    ),
    blocks AS MATERIALIZED (
      SELECT doc_id, toks, b,
             array_to_string(toks[b * {_SPAN_LEN} + 1 : b * {_SPAN_LEN} + {_SPAN_LEN}],
                             ' ') AS block_text,
             len(toks[b * {_SPAN_LEN} + 1 : b * {_SPAN_LEN} + {_SPAN_LEN}]) AS block_n,
             {_uniform_expr("doc_id || '_' || b")} < {_SPAN_RATE} AS masked
      FROM bseq
    ),
    numbered AS (
      SELECT *,
             COALESCE(SUM(CASE WHEN masked THEN 1 END)
               OVER (PARTITION BY doc_id ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k
      FROM blocks
    )
    SELECT doc_id,
           CAST(MAX(len(toks)) AS INT) AS n_tokens,
           CAST(COALESCE(SUM(CASE WHEN masked THEN block_n END), 0) AS INT)
             AS n_masked_tokens,
           CAST(COALESCE(SUM(CASE WHEN masked THEN 1 END), 0) AS INT)
             AS n_spans_masked,
           string_agg(CASE WHEN masked THEN '<extra_id_' || k || '>'
                           ELSE block_text END, ' ' ORDER BY b) AS input_text,
           COALESCE(string_agg(CASE WHEN masked
                      THEN '<extra_id_' || k || '> ' || block_text END,
                      ' ' ORDER BY b), '') AS target_text
    FROM numbered
    GROUP BY doc_id
    """,
)
def ext_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents")).where(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    nb = F.ceil(n / F.lit(float(_SPAN_LEN))).cast("int")

    def step(acc, b):
        block = F.slice(toks, b * _SPAN_LEN + 1, _SPAN_LEN)
        bt = F.array_join(block, " ")
        masked = _span_uniform(
            F.concat_ws("_", F.col("doc_id"), b.cast("string"))
        ) < F.lit(_SPAN_RATE)
        sent = F.concat(F.lit("<extra_id_"), acc["k"].cast("string"), F.lit(">"))
        sep = F.when(b > 0, F.lit(" ")).otherwise(F.lit(""))
        tsep = F.when(acc["k"] > 0, F.lit(" ")).otherwise(F.lit(""))
        return F.struct(
            (acc["k"] + masked.cast("int")).alias("k"),
            (acc["m"] + F.when(masked, F.size(block)).otherwise(F.lit(0))).alias("m"),
            F.concat(acc["inp"], sep, F.when(masked, sent).otherwise(bt)).alias("inp"),
            F.when(
                masked, F.concat(acc["tgt"], tsep, sent, F.lit(" "), bt)
            ).otherwise(acc["tgt"]).alias("tgt"),
        )

    zero = F.struct(
        F.lit(0).alias("k"),
        F.lit(0).alias("m"),
        F.lit("").alias("inp"),
        F.lit("").alias("tgt"),
    )
    folded = docs.select(
        "doc_id",
        n.alias("n_tokens_raw"),
        F.explode(F.array(F.aggregate(F.sequence(F.lit(0), nb - 1), zero, step))).alias(
            "sc"
        ),
    )
    return folded.select(
        "doc_id",
        F.col("n_tokens_raw").cast("int").alias("n_tokens"),
        F.col("sc.m").cast("int").alias("n_masked_tokens"),
        F.col("sc.k").cast("int").alias("n_spans_masked"),
        F.col("sc.inp").alias("input_text"),
        F.col("sc.tgt").alias("target_text"),
    )


ext_span_corruption.__doc__ = """T5/UL2-style span corruption: each document's token stream is cut
into {sl}-token blocks; a deterministic md5-uniform per (doc, block)
masks ~{r:.0%} of blocks; masked blocks collapse to numbered
sentinels in input_text and reappear after their sentinel in
target_text — the (input, target) pair a denoising LM trains on.
Seeded masking is the engine-wide reproducibility convention
(ext_hash_sample): re-runs, repartitions, and the DuckDB oracle all
mask the same spans, so the pair text is exactly oracle-checkable —
rare for a data-augmentation op.

Scale shape: ONE aggregate() fold per document walks its block
sequence carrying (sentinel counter, input, target) — no explode,
no shuffle at all (the whole query is a map over the corpus; only
the driver's final collect orders it). Block masking is a pure
expression, so 100 TB of documents mask at scan throughput.""".format(
    sl=_SPAN_LEN, r=_SPAN_RATE
)

# ---------------------------------------------------------------------------
# Variable-length span corruption: the real-T5 geometric-span variant
# ---------------------------------------------------------------------------

# Truncated-geometric span lengths, p = 1/3 (T5's mean-3 target; Raffel
# et al. 2020 sample span lengths around mean 3), truncated at 5 so the
# inverse CDF is a fixed CASE ladder. Thresholds are the exact CDF
# rationals (1-(2/3)^k) materialized ONCE as Python doubles and inlined
# into both engines: float repr round-trips bit-exactly, so the same
# IEEE double sits on each side of the comparison and the draw is
# engine-identical (the transcendental-free discipline — a log-based
# geometric sampler would diverge between engines' libm). E[len] =
# 211/81 ~= 2.6 after truncation.
_VARLEN_CDF = (1 / 3, 5 / 9, 19 / 27, 65 / 81)  # P(len <= 1..4); else 5
_VARLEN_MAX = 5


def _varlen_sql(u_sql: str) -> str:
    """Inverse-CDF CASE ladder over a uniform expression (SQL)."""
    arms = " ".join(
        f"WHEN {u_sql} < {t!r} THEN {k + 1}" for k, t in enumerate(_VARLEN_CDF)
    )
    return f"(CASE {arms} ELSE {_VARLEN_MAX} END)"


@register(
    "ext_span_corruption_varlen",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ),
    bseq AS MATERIALIZED (
      SELECT doc_id, toks, n,
             CAST(unnest(range(0, CAST(n AS BIGINT))) AS INT) AS b
      FROM t
    ),
    lens AS MATERIALIZED (
      SELECT doc_id, toks, n, b,
             {_varlen_sql(_uniform_expr("doc_id || '_L_' || b"))} AS len_b,
             {_uniform_expr("doc_id || '_M_' || b")} < {_SPAN_RATE} AS masked
      FROM bseq
    ),
    placed AS MATERIALIZED (
      SELECT *, COALESCE(SUM(len_b) OVER (PARTITION BY doc_id ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM lens
    ),
    blocks AS MATERIALIZED (
      SELECT doc_id, toks, n, b, masked,
             array_to_string(toks[s + 1 : s + len_b], ' ') AS block_text,
             len(toks[s + 1 : s + len_b]) AS block_n
      FROM placed WHERE s < n
    ),
    numbered AS (
      SELECT *,
             COALESCE(SUM(CASE WHEN masked THEN 1 END)
               OVER (PARTITION BY doc_id ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k
      FROM blocks
    )
    SELECT doc_id,
           CAST(MAX(n) AS INT) AS n_tokens,
           CAST(COALESCE(SUM(CASE WHEN masked THEN block_n END), 0) AS INT)
             AS n_masked_tokens,
           CAST(COALESCE(SUM(CASE WHEN masked THEN 1 END), 0) AS INT)
             AS n_spans_masked,
           string_agg(CASE WHEN masked THEN '<extra_id_' || k || '>'
                           ELSE block_text END, ' ' ORDER BY b) AS input_text,
           COALESCE(string_agg(CASE WHEN masked
                      THEN '<extra_id_' || k || '> ' || block_text END,
                      ' ' ORDER BY b), '') AS target_text
    FROM numbered
    GROUP BY doc_id
    """,
)
def ext_span_corruption_varlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents")).where(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)

    def draw(tag: str, b):
        return _span_uniform(
            F.concat_ws("_", F.col("doc_id"), F.lit(tag), b.cast("string"))
        )

    def step(acc, b):
        u = draw("L", b)
        ln = F.when(u < F.lit(_VARLEN_CDF[0]), F.lit(1))
        for k, t in enumerate(_VARLEN_CDF[1:], start=2):
            ln = ln.when(u < F.lit(t), F.lit(k))
        ln = ln.otherwise(F.lit(_VARLEN_MAX))
        block = F.slice(toks, acc["s"] + 1, ln)
        bt = F.array_join(block, " ")
        masked = draw("M", b) < F.lit(_SPAN_RATE)
        sent = F.concat(F.lit("<extra_id_"), acc["k"].cast("string"), F.lit(">"))
        sep = F.when(b > 0, F.lit(" ")).otherwise(F.lit(""))
        tsep = F.when(acc["k"] > 0, F.lit(" ")).otherwise(F.lit(""))
        advanced = F.struct(
            (acc["s"] + ln).alias("s"),
            (acc["k"] + masked.cast("int")).alias("k"),
            (acc["m"] + F.when(masked, F.size(block)).otherwise(F.lit(0))).alias("m"),
            F.concat(acc["inp"], sep, F.when(masked, sent).otherwise(bt)).alias("inp"),
            F.when(
                masked, F.concat(acc["tgt"], tsep, sent, F.lit(" "), bt)
            ).otherwise(acc["tgt"]).alias("tgt"),
        )
        # past-the-end steps of the over-generated span sequence no-op
        return F.when(acc["s"] < n, advanced).otherwise(acc)

    zero = F.struct(
        F.lit(0).alias("s"),
        F.lit(0).alias("k"),
        F.lit(0).alias("m"),
        F.lit("").alias("inp"),
        F.lit("").alias("tgt"),
    )
    folded = docs.select(
        "doc_id",
        n.alias("n_tokens_raw"),
        F.explode(F.array(F.aggregate(F.sequence(F.lit(0), n - 1), zero, step))).alias(
            "sc"
        ),
    )
    return folded.select(
        "doc_id",
        F.col("n_tokens_raw").cast("int").alias("n_tokens"),
        F.col("sc.m").cast("int").alias("n_masked_tokens"),
        F.col("sc.k").cast("int").alias("n_spans_masked"),
        F.col("sc.inp").alias("input_text"),
        F.col("sc.tgt").alias("target_text"),
    )
ext_span_corruption_varlen.__doc__ = """Span corruption with VARIABLE span lengths — the real-T5 shape
(round-5 verdict #7): each span's length is drawn from a seeded
truncated-geometric (mean ~2.6, max {mx}) keyed on (doc_id, span
index), so spans tile the token stream at irregular boundaries;
the ~{r:.0%} mask draw is an independent seeded uniform per span.
Both draws share the md5-uniform discipline of ext_span_corruption,
so the (input, target) pair text stays EXACTLY oracle-checkable.

Oracle construction trick: span STARTS are the prefix-sums of the
seeded lengths, so SQL can place spans with one window cumsum over
an over-generated span sequence (at most n spans since every span
is >= 1 token), keeping rows where start < n. The Spark side needs
no such over-generation materialized: ONE aggregate() fold walks
the same span sequence carrying (next start, sentinel counter,
input, target) and no-ops past the end of the document — still a
single map over the corpus, no explode, no shuffle, masking at
scan throughput like the fixed-length op.""".format(
    mx=_VARLEN_MAX, r=_SPAN_RATE
)

