"""Sub-document chunk operators a 100 TB curation pipeline needs
beyond first-occurrence passage dedup (ext_dedup_paragraphs):

1. Boilerplate line removal (RefinedWeb, Penedo et al. 2023, §"line-wise
   filtering"): a line that recurs across MANY DOCUMENTS is site chrome
   (headers, footers, nav, cookie banners) — remove EVERY occurrence,
   including the first, when its document frequency crosses a
   threshold. This is frequency-threshold semantics, deliberately
   different from ext_dedup_paragraphs' keep-first semantics: a
   boilerplate line has no "canonical" occurrence worth keeping.

2. Content-defined chunking (CDC) dedup (LBFS, Muthitacharoen et al.
   2001; gear hash per FastCDC, Xia et al. 2016): split each document
   at positions where a rolling hash of the trailing W characters
   falls below a threshold, so chunk boundaries are a pure function of
   LOCAL CONTENT — an insertion near the top of a near-duplicate
   document shifts every byte offset but leaves all downstream chunk
   boundaries (and hence chunk identities) intact, which is exactly
   what fixed-offset chunking (ext_chunk_documents,
   ext_dedup_paragraphs' token windows) cannot do. The registered
   query reports, per document, how much of it is chunk-level
   duplicate against the whole corpus — the storage/transfer dedup
   ratio a CDC-backed corpus store would realize. A quiet-window rule
   (see _CDC_MIN_CHUNK) supplies FastCDC's minimum-chunk floor in
   per-position form, so degenerate content (digit runs, binary
   contamination) cannot explode into one-char chunks.

Reference parity note: the reference deduplicates only whole rows on
load (INSERT IGNORE, ` loadAnalyticsDB...R`:106-134 — op 03); these are
the sub-document twins that matter once rows are multi-kilobyte
documents rather than sales facts.

Cross-engine exactness: everything is integer arithmetic (gear table
G[c] = (ascii(c) * 40503) mod 2^16 — Knuth multiplicative hashing; a
16-bit hash over a W=16 window; boundary iff h < 2^10, i.e. an
expected chunk of 64 chars), so the DuckDB oracle reproduces the
boundaries bit-for-bit — the oracle pins the chunking itself, not
just the summary statistics.

Spark-first shape and the 100 TB audit:
- All per-document work is JVM-side array higher-order functions
  (transform/filter/aggregate) — O(n·W) per doc, no Python.
- The char, rolling-hash, and boundary-position arrays are each
  materialized behind a Generate barrier
  (functions.text.generate_barrier): HOF lambdas get no
  common-subexpression elimination against outer expressions, and
  CollapseProject would otherwise inline the O(n) array build into
  every element_at, turning O(n·W) into O(n²·W) (the class of defect
  fixed in commit c9c5eb7 / documented in README "HOF CSE"). Each
  stage reads only the previous stage's materialized column, so every
  expression is evaluated exactly once per row.
- Chunk text is sliced from the char ARRAY (slice + array_join,
  O(chunk) with O(1) offset), not via substring(text, pos) whose
  position scan would make chunk extraction O(n²/avg_chunk) per doc.
- Corpus-wide frequency/first-occurrence is a groupBy + join back,
  NOT a window over chunk/line text: a boilerplate line repeated
  millions of times is one hot key — the aggregate gets map-side
  combine and the join back gets AQE skew-splitting (same rationale
  as ext_dedup_paragraphs). Document frequency is two explicit
  groupBys ((line, doc) dedup first, then count) so the hot line's
  pairs spread across reducers in the first exchange instead of
  converging on one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import generate_barrier, tokens
from ..sources import ensure_parallelism, load_table
from .registry import register

# Boilerplate line gate — the corpus has no line breaks, so a "line"
# is a 4-token proxy window (same convention as ext_dedup_paragraphs'
# 16-token paragraph proxy); removal threshold: appears in >= 3
# distinct documents. Both are deployment parameters of the builders.
_LINE_TOKS = 4
_MIN_DF = 3

# CDC gear-hash parameters: 16-bit hash, W=16 trailing chars,
# boundary iff h < 2^10 (p = 1/64 -> expected 64-char chunks) AND the
# preceding _CDC_MIN_CHUNK-1 positions are quiet (hash >= threshold).
# The quiet-window rule is the per-position variant of FastCDC's
# minimum-chunk floor: certain characters' steady-state rolling hash
# sits permanently below the threshold (e.g. NUL, '7' — computable
# from the gear table), so a digit run or binary contamination would
# otherwise chunk at EVERY position (~n one-char chunks per doc).
# Requiring a quiet preceding window suppresses boundaries inside such
# runs (the run becomes one chunk) and enforces a 16-char minimum gap
# between boundaries, while keeping the predicate per-position — no
# sequential fold, which is the Spark-right (embarrassingly parallel)
# shape FastCDC's skip-ahead loop is not.
_GEAR_MULT = 40503
_GEAR_MOD = 65536
_CDC_WINDOW = 16
_CDC_THRESHOLD = 1024
_CDC_MIN_CHUNK = 16

# Near-dup pairing: chunks in more than _CDC_DF_CAP documents are
# boilerplate, not identity evidence — excluded from pairing (the
# df-capped inverted-index discipline of ext_dedup_winnowing), which
# caps the self-join fanout at CAP^2/2 pairs per chunk at ANY corpus
# size. Pairs emitted at containment >= _CDC_NEARDUP_MIN.
_CDC_DF_CAP = 64
_CDC_NEARDUP_MIN = 0.5


# ---------------------------------------------------------------------------
# Boilerplate line removal
# ---------------------------------------------------------------------------


def boilerplate_lines(
    docs: DataFrame, *, line_toks: int = _LINE_TOKS, min_df: int = _MIN_DF
) -> DataFrame:
    """Per-document boilerplate removal: (doc_id, n_lines,
    n_boilerplate, boilerplate_frac, cleaned_text). A line (token-window
    proxy) is boilerplate iff it occurs in >= min_df DISTINCT documents;
    every occurrence is dropped and the document reassembled from the
    survivors in order."""
    t = docs.select("doc_id", tokens("text").alias("toks"))
    n = F.size("toks")
    nc = F.greatest(F.lit(1), F.ceil(n / F.lit(float(line_toks))).cast("int"))
    lines = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), nc - 1)).alias("li"),
        "toks",
    ).select(
        "doc_id",
        "li",
        F.array_join(
            F.slice("toks", F.col("li") * line_toks + 1, line_toks), " "
        ).alias("line_text"),
    )
    # document frequency, skew-safe: dedup (line, doc) pairs first (the
    # hot line's pairs hash across reducers), then count rows per line.
    freq = (
        lines.select("line_text", "doc_id")
        .distinct()
        .groupBy("line_text")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    k = lines.join(freq, "line_text")
    is_bp = F.col("df") >= min_df
    kept_struct = F.when(~is_bp, F.struct(F.col("li"), F.col("line_text")))
    return (
        k.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.count(F.when(is_bp, 1)).cast("int").alias("n_boilerplate"),
            F.sort_array(F.collect_list(kept_struct)).alias("_kept"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_boilerplate",
            (
                F.col("n_boilerplate").cast("double")
                / F.col("n_lines").cast("double")
            ).alias("boilerplate_frac"),
            F.array_join(
                F.transform("_kept", lambda s: s["line_text"]), " "
            ).alias("cleaned_text"),
        )
    )


@register(
    "ext_boilerplate_lines",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), n AS (
      SELECT doc_id, toks, len(toks) AS n,
             GREATEST(1, CAST(ceil(len(toks) / {_LINE_TOKS}.0) AS INT)) AS nc
      FROM t
    ), c AS (
      SELECT doc_id, i AS li,
             array_to_string(
               list_slice(toks, 1 + i*{_LINE_TOKS},
                          LEAST((i+1)*{_LINE_TOKS}, n)), ' ') AS line_text
      FROM n, LATERAL unnest(generate_series(0, nc - 1)) AS u(i)
    ), f AS (
      SELECT line_text, COUNT(DISTINCT doc_id) AS df FROM c GROUP BY line_text
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE df >= {_MIN_DF}) AS INT) AS n_boilerplate,
           CAST(COUNT(*) FILTER (WHERE df >= {_MIN_DF}) AS DOUBLE) / COUNT(*)
             AS boilerplate_frac,
           COALESCE(string_agg(CASE WHEN df < {_MIN_DF} THEN line_text END, ' '
                               ORDER BY li), '') AS cleaned_text
    FROM c JOIN f USING (line_text)
    GROUP BY doc_id
    """,
)
def ext_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style boilerplate line removal over the documents
    table (see module doc): frequency-threshold semantics — a line in
    >= 3 distinct documents (_MIN_DF) is site chrome and dies
    everywhere, unlike ext_dedup_paragraphs' keep-first passage
    dedup."""
    return boilerplate_lines(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# Content-defined chunking
# ---------------------------------------------------------------------------


def cdc_chunks(
    docs: DataFrame,
    *,
    window: int = _CDC_WINDOW,
    threshold: int = _CDC_THRESHOLD,
    min_chunk: int = _CDC_MIN_CHUNK,
) -> DataFrame:
    """Exploded CDC chunks: (doc_id, chunk_idx, chunk_text). Boundary
    after char i iff the gear hash of the trailing `window` chars is
    below `threshold` AND the preceding min_chunk-1 positions are all
    quiet (hash >= threshold) — the per-position variant of FastCDC's
    minimum-chunk floor (see _CDC_MIN_CHUNK note); always one boundary
    at end-of-doc. Chunk k spans (bpos[k-1], bpos[k]]."""
    docs = docs.filter(F.col("text").isNotNull() & (F.length("text") > 0))
    # char array materialized once (split('') keeps a trailing '' under
    # Java's limit=-1 split; the length filter drops it)
    chars = F.filter(F.split(F.col("text"), ""), lambda c: F.length(c) == 1)
    step = generate_barrier(docs.select("doc_id", "text"), chars=chars)
    # the rolling-hash vector: h_i = sum_{j<min(i,W)} G[c_(i-j)] * 2^j
    # mod 2^16 — a windowed weighted sum, so char j affects exactly W
    # positions (the sliding property gear chunking relies on).
    # SQL-string expr: the DataFrame shiftleft() wrapper only takes a
    # literal bit count. Materialized behind its own barrier because
    # the boundary predicate below reads it ~min_chunk times per
    # position.
    hs = F.expr(
        f"""
        transform(sequence(1, size(chars)), i ->
          aggregate(sequence(0, least(i, {window}) - 1), 0L,
                    (acc, j) -> acc
                      + ((ascii(element_at(chars, CAST(i - j AS INT)))
                          * {_GEAR_MULT}) % {_GEAR_MOD})
                        * shiftleft(1L, j))
            % {_GEAR_MOD})
        """
    )
    step = generate_barrier(step, hs=hs)
    # boundary iff below threshold with a QUIET preceding window (no
    # below-threshold hash in the previous min_chunk-1 positions), or
    # end-of-doc. The i = 1 guard matters: Spark's sequence() DESCENDS
    # on an empty span instead of returning [].
    bpos = F.expr(
        f"""
        filter(sequence(1, size(hs)), i ->
          i = size(hs) OR (
            element_at(hs, CAST(i AS INT)) < {threshold}
            AND (i = 1 OR size(filter(
                  sequence(greatest(1, i - {min_chunk - 1}), i - 1),
                  j -> element_at(hs, CAST(j AS INT)) < {threshold})) = 0)))
        """
    )
    step = generate_barrier(step, bpos=bpos)
    # chunk text is sliced from the CHAR ARRAY (O(1) offset), never via
    # substring(text, pos) (position scan -> O(n^2) per doc at scale)
    chunks = F.expr(
        """
        transform(sequence(1, size(bpos)), k ->
          named_struct(
            'chunk_idx', k - 1,
            'chunk_text', array_join(
              slice(chars,
                    (CASE WHEN k = 1 THEN 0
                          ELSE element_at(bpos, k - 1) END) + 1,
                    element_at(bpos, k)
                      - (CASE WHEN k = 1 THEN 0
                              ELSE element_at(bpos, k - 1) END)),
              '')))
        """
    )
    return step.select(
        "doc_id", F.explode(chunks).alias("_c")
    ).select("doc_id", F.col("_c.chunk_idx").alias("chunk_idx"),
             F.col("_c.chunk_text").alias("chunk_text"))


# shared oracle fragment: the exploded (doc_id, chunk_idx, chunk_text)
# CDC chunk stream — both registered CDC queries splice it so the
# boundary definition cannot drift between them
_CDC_CTE = f"""
    t AS (
      SELECT doc_id, text, len(text) AS n
      FROM documents WHERE text IS NOT NULL AND len(text) > 0
    ), h AS (
      SELECT doc_id, text, n,
             list_transform(range(1, n+1), i ->
               list_sum(list_transform(range(0, LEAST(i, {_CDC_WINDOW})), j ->
                 ((ascii(text[i - j]) * {_GEAR_MULT}) % {_GEAR_MOD})
                   * (CAST(1 AS BIGINT) << j))) % {_GEAR_MOD}) AS hs
      FROM t
    ), b AS (
      SELECT doc_id, text, n,
             list_filter(range(1, n+1), i ->
               i = n OR (
                 hs[i] < {_CDC_THRESHOLD}
                 AND (i = 1 OR len(list_filter(
                       range(GREATEST(1, i - {_CDC_MIN_CHUNK - 1}), i),
                       j -> hs[j] < {_CDC_THRESHOLD})) = 0))) AS bpos
      FROM h
    ), c AS (
      SELECT doc_id, k - 1 AS chunk_idx,
             substr(text,
                    (CASE WHEN k = 1 THEN 0 ELSE bpos[k-1] END) + 1,
                    bpos[k] - (CASE WHEN k = 1 THEN 0 ELSE bpos[k-1] END))
               AS chunk_text
      FROM b, LATERAL unnest(generate_series(1, len(bpos))) AS u(k)
    )
"""


@register(
    "ext_cdc_chunk_dedup",
    oracle=f"""
    WITH {_CDC_CTE}, f AS (
      SELECT chunk_text,
             MIN(struct_pack(d := doc_id, i := chunk_idx)) AS first_key
      FROM c GROUP BY chunk_text
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_chunks,
           CAST(SUM(len(chunk_text)) AS BIGINT) AS total_bytes,
           CAST(SUM(len(chunk_text)) AS DOUBLE) / COUNT(*) AS avg_chunk_len,
           CAST(COUNT(*) FILTER (
                  WHERE struct_pack(d := doc_id, i := chunk_idx) <> first_key)
                AS INT) AS dup_chunks,
           CAST(COALESCE(SUM(len(chunk_text)) FILTER (
                  WHERE struct_pack(d := doc_id, i := chunk_idx) <> first_key),
                  0)
                AS BIGINT) AS dup_bytes
    FROM c JOIN f USING (chunk_text)
    GROUP BY doc_id
    """,
)
def ext_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup report over the documents table
    (see module doc): per document, its gear-hash chunk count, byte
    total, and how many chunks/bytes are corpus-wide duplicates (first
    occurrence by lexicographic MIN over the (doc_id, chunk_idx)
    STRUCT — collision-free at any document size, unlike a collapsed
    doc_id*K+idx long, which silently cross-wires attribution once a
    document exceeds K chunks). The DuckDB twin recomputes the rolling
    hash and boundaries exactly, so a single misplaced boundary
    anywhere in the corpus fails the hash check."""
    chunks = cdc_chunks(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    okey = F.struct(
        F.col("doc_id").alias("d"), F.col("chunk_idx").alias("i")
    )
    # groupBy + join back, not a window: hot chunks (shared boilerplate)
    # get map-side combine + AQE skew-splitting (module doc)
    firsts = chunks.groupBy("chunk_text").agg(F.min(okey).alias("_first_key"))
    k = chunks.join(firsts, "chunk_text").withColumn(
        "dup", okey != F.col("_first_key")
    )
    blen = F.length("chunk_text")
    return (
        k.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum(blen).cast("bigint").alias("total_bytes"),
            F.count(F.when(F.col("dup"), 1)).cast("int").alias("dup_chunks"),
            F.coalesce(
                F.sum(F.when(F.col("dup"), blen)), F.lit(0)
            ).cast("bigint").alias("dup_bytes"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "total_bytes",
            (
                F.col("total_bytes").cast("double")
                / F.col("n_chunks").cast("double")
            ).alias("avg_chunk_len"),
            "dup_chunks",
            "dup_bytes",
        )
    )


@register(
    "ext_cdc_near_dup",
    oracle=f"""
    WITH {_CDC_CTE}, d AS (
      SELECT DISTINCT doc_id, chunk_text FROM c
    ), fdf AS (
      SELECT chunk_text, COUNT(*) AS df FROM d GROUP BY chunk_text
    ), tot AS (
      SELECT doc_id, SUM(len(chunk_text)) AS tbytes FROM d GROUP BY doc_id
    ), ev AS (
      SELECT d.doc_id, d.chunk_text
      FROM d JOIN fdf USING (chunk_text)
      WHERE fdf.df BETWEEN 2 AND {_CDC_DF_CAP}
    ), sh AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(len(a.chunk_text)) AS shared_bytes
      FROM ev a JOIN ev b
        ON a.chunk_text = b.chunk_text AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT sh.doc_a, sh.doc_b,
           CAST(sh.shared_bytes AS INT) AS shared_bytes,
           CAST(sh.shared_bytes AS DOUBLE)
             / LEAST(ta.tbytes, tb.tbytes) AS containment
    FROM sh
    JOIN tot ta ON ta.doc_id = sh.doc_a
    JOIN tot tb ON tb.doc_id = sh.doc_b
    WHERE CAST(sh.shared_bytes AS DOUBLE)
            / LEAST(ta.tbytes, tb.tbytes) >= {_CDC_NEARDUP_MIN}
    """,
)
def ext_cdc_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC near-duplicate pairs — the ACTION on top of the
    ext_cdc_chunk_dedup report: two documents sharing >= 50% of the
    smaller one's distinct chunk bytes are near-duplicates, found via
    a df-capped inverted index over chunk text (see _CDC_DF_CAP note —
    boilerplate chunks are excluded from pairing, so the fanout of the
    chunk self-join is bounded by CAP, never corpus-quadratic, and the
    reported containment is a LOWER bound with zero boilerplate-driven
    false positives). Because boundaries are content-defined, an
    insertion near the top of a copy shifts every offset yet leaves
    downstream chunk identities intact — this catches the shifted
    near-dups that fixed-offset passage hashing misses. Totals join
    back doc-keyed (one row per doc — never broadcast at corpus
    scale)."""
    return cdc_near_dup(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )


def cdc_near_dup(
    docs: DataFrame,
    *,
    df_cap: int = _CDC_DF_CAP,
    min_containment: float = _CDC_NEARDUP_MIN,
) -> DataFrame:
    """(doc_a, doc_b, shared_bytes, containment) over a documents
    frame — the library builder behind ext_cdc_near_dup (see its
    docstring for semantics and the scale argument)."""
    chunks = cdc_chunks(docs)
    d = chunks.select("doc_id", "chunk_text").distinct()
    fdf = d.groupBy("chunk_text").agg(F.count(F.lit(1)).alias("df"))
    tot = d.groupBy("doc_id").agg(
        F.sum(F.length("chunk_text")).alias("tbytes")
    )
    ev = d.join(
        fdf.filter(F.col("df").between(2, df_cap)), "chunk_text"
    ).select("doc_id", "chunk_text")
    a = ev.select(F.col("doc_id").alias("doc_a"), "chunk_text")
    b = ev.select(F.col("doc_id").alias("doc_b"), "chunk_text")
    sh = (
        a.join(b, "chunk_text")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.length("chunk_text")).alias("_shared"))
    )
    ta = tot.withColumnsRenamed({"doc_id": "doc_a", "tbytes": "_ta"})
    tb = tot.withColumnsRenamed({"doc_id": "doc_b", "tbytes": "_tb"})
    cont = F.col("_shared").cast("double") / F.least("_ta", "_tb").cast(
        "double"
    )
    return (
        sh.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(cont >= min_containment)
        .select(
            "doc_a",
            "doc_b",
            F.col("_shared").cast("int").alias("shared_bytes"),
            cont.alias("containment"),
        )
    )
