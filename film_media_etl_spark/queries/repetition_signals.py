"""The FULL Gopher repetition-signal vector (Rae et al. 2021, table A1
"repetitious text" rows) per document — the quantitative battery behind
every published web-corpus repetition gate:

- duplicate LINE / PARAGRAPH fractions (occurrences beyond the first
  occurrence, over segment count) and their CHARACTER fractions
  (characters in those beyond-first occurrences over segment
  characters);
- TOP n-gram character fractions for n = 2..4: the largest character
  mass any single n-gram covers (count x gram length over normalized
  text length — ties resolve to the most character-covering gram,
  which is the quantity the fraction measures);
- DUPLICATED n-gram character fractions for n = 5..10: the UNION
  character coverage of every n-gram occurring more than once in the
  document (overlapping occurrences counted once — the same span-union
  semantics as the ExactSubstr dedup tier, here within one document).

Relation to the existing tiers: ext_repetition_quality is the BINARY
gate (type-token ratio + top-bigram occurrence share) the curation
pipeline applies; this query is the 13-signal REPORT a pipeline
operator tunes those thresholds against, with Gopher's published
thresholds folded into one `passes_repetition` verdict.

Spark-first shape — ZERO SHUFFLE: every signal is computed map-side
per row with higher-order functions over the token / line / gram
arrays (sort + linear folds; the dup-coverage fold is O(covered) via
interval union, never a per-token membership probe), so at 100 TB the
scan partitioning is the job partitioning, like ext_c4_filters. The
DuckDB oracle spells the same quantities relationally (unnest + GROUP
BY + islands detection) — two independent formulations that must agree
cell-exactly.

ANSI-safe by construction (the driver's vanilla Spark 4 session runs
ANSI on): empty gram lists guard the descending-sequence pitfall and
every division is zero-guarded. PERFORMANCE SHAPE (learned the hard
way in-round): higher-order-function lambdas re-evaluate any OUTER
array expression they reference once PER ELEMENT — an element_at/get
peek over the sorted gram array turned the dup scan O(m^2 * build).
The sorted arrays are therefore materialized
ONCE per row behind a Generate barrier (the lang_quality_barrier
pattern), and duplicate detection is a single fold over a zip of the
sorted array with its own tail — no lambda ever indexes an outer
array.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import ngrams, tokens
from ..sources import ensure_parallelism, load_table
from .registry import register

# Gopher's repetition battery runs downstream of the paper's document
# length precondition (Rae et al. 2021 §A.1.1 filters documents under 50
# words BEFORE any quality/repetition rule applies), and the thresholds
# are calibrated for documents that passed it: on a 5-25-token document a
# single distinct 4-gram mechanically covers > 16% of the characters, so
# without the floor nearly every short document "fails"
# top_4gram_char_frac by construction and the curation gate mislabels it
# 'gopher_repetition' (round-9 advice, medium). The shared VERDICT
# builder (with_repetition_verdict) therefore applies the battery only at
# or above this floor — shorter documents pass the tier vacuously and
# remain owned by the gate's too_short/quality tiers. The 13-signal
# REPORT (ext_repetition_signals) stays raw: its passes_repetition column
# is the pure published-threshold verdict so an operator can read the
# signal values at every length when tuning.
GOPHER_REP_MIN_TOKENS = 50

# Gopher table A1 thresholds: a document is repetitious when a signal
# EXCEEDS its bound.
GOPHER_REP_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def _seg_chars(segs: Column) -> Column:
    return F.aggregate(segs, F.lit(0), lambda a, s: a + F.length(s))


def _frac(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
        F.lit(0.0)
    )


def _dup_seg_fracs(segs: Column) -> tuple[Column, Column]:
    """(duplicate-segment fraction, duplicate-segment character
    fraction): occurrences beyond the first of each distinct segment
    — n - n_distinct of them, carrying (total - distinct) characters."""
    n = F.size(segs)
    nd = F.size(F.array_distinct(segs))
    chars = _seg_chars(segs)
    chars_d = _seg_chars(F.array_distinct(segs))
    return _frac(n - nd, n), _frac(chars - chars_d, chars)


def top_ngram_char_frac(gs: Column, total_chars: Column) -> Column:
    """max over n-grams of count(g) * length(g), over the normalized
    text length — one linear fold over the pre-sorted gram array (the
    sort is materialized once per row by the caller's barrier)."""
    best = F.aggregate(
        gs,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                * F.length(x),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return _frac(best, total_chars)


def dup_ngram_char_frac(srt: Column, toks: Column, total_chars: Column, n: int) -> Column:
    """Union character coverage of duplicated n-grams / normalized text
    length. ``srt`` is the PRE-SORTED struct<g,p> gram array (equal
    grams adjacent). Duplicate positions fall out of ONE fold over the
    array zipped with its own tail: an occurrence is duplicated iff its
    gram equals the previous or the next sorted entry — the previous
    gram rides the accumulator, the next rides the zip, so no lambda
    ever indexes an outer array (which would re-evaluate it per
    element). The collected positions then fold into merged
    [p, p+n-1] intervals, accumulating covered token characters run by
    run (O(covered), each token counted once) plus in-run separator
    spaces."""
    m = F.size(srt)
    tail = F.concat(
        F.slice(srt, 2, F.greatest(m - 1, F.lit(0))),
        F.array(
            F.struct(
                F.lit(None).cast("string").alias("g"), F.lit(0).alias("p")
            )
        ),
    )
    pairs = F.zip_with(
        srt,
        tail,
        lambda c, nx: F.struct(
            c["g"].alias("g"), c["p"].alias("p"), nx["g"].alias("ng")
        ),
    )
    dup_ps = F.aggregate(
        pairs,
        F.struct(
            F.lit("").alias("pg"),
            F.array().cast("array<int>").alias("out"),
        ),
        lambda acc, x: F.struct(
            x["g"].alias("pg"),
            F.when(
                (x["g"] == acc["pg"]) | (x["g"] == x["ng"]),
                F.concat(acc["out"], F.array(x["p"])),
            )
            .otherwise(acc["out"])
            .alias("out"),
        ),
        lambda acc: F.array_sort(acc["out"]),
    )
    cover = F.aggregate(
        dup_ps,
        F.struct(
            F.lit(-10).alias("end"),
            F.lit(0).alias("cnt"),
            F.lit(0).alias("lensum"),
            F.lit(0).alias("runs"),
        ),
        lambda acc, p: F.struct(
            (p + (n - 1)).alias("end"),
            (acc["cnt"] + (p + (n - 1)) - F.greatest(p, acc["end"] + 1) + 1).alias(
                "cnt"
            ),
            (
                acc["lensum"]
                + F.aggregate(
                    F.slice(
                        toks,
                        F.greatest(p, acc["end"] + 1),
                        (p + (n - 1)) - F.greatest(p, acc["end"] + 1) + 1,
                    ),
                    F.lit(0),
                    lambda a, t: a + F.length(t),
                )
            ).alias("lensum"),
            (
                acc["runs"]
                + F.when(F.greatest(p, acc["end"] + 1) > acc["end"] + 1, 1).otherwise(
                    0
                )
            ).alias("runs"),
        ),
        lambda acc: acc["lensum"] + (acc["cnt"] - acc["runs"]),
    )
    return _frac(cover, total_chars)


def _rep_arrays(tk: Column) -> Column:
    """The 9 sorted gram arrays as one struct — the value the Generate
    barrier materializes ONCE per row (g2..g4: plain sorted gram
    strings for the top-gram folds; s5..s10: sorted struct<g,p>, p the
    gram's 1-based start token, for the dup-coverage folds) — plus the
    normalized total character count, which all nine gram fractions
    divide by (round-11: as a plain expression it was re-evaluated —
    one O(chars) array_join per signal — because projection-defined
    columns inline into each consumer)."""
    return F.struct(
        *[F.array_sort(ngrams(tk, n)).alias(f"g{n}") for n in (2, 3, 4)],
        *[
            F.array_sort(
                F.transform(
                    ngrams(tk, n), lambda g, i: F.struct(g.alias("g"), (i + 1).alias("p"))
                )
            ).alias(f"s{n}")
            for n in (5, 6, 7, 8, 9, 10)
        ],
        F.length(F.array_join(tk, " ")).alias("total"),
    )


def _signal_cols(toks: Column, lines: Column, paras: Column, ga: Column) -> dict[str, Column]:
    """All 13 signal expressions over the barrier-materialized columns
    (``ga`` is the _rep_arrays struct attribute produced by the
    caller's Generate)."""
    total = ga["total"]
    dl, dlc = _dup_seg_fracs(lines)
    dp, dpc = _dup_seg_fracs(paras)
    cols = {
        "dup_line_frac": dl,
        "dup_line_char_frac": dlc,
        "dup_para_frac": dp,
        "dup_para_char_frac": dpc,
    }
    for n in (2, 3, 4):
        cols[f"top_{n}gram_char_frac"] = top_ngram_char_frac(ga[f"g{n}"], total)
    for n in (5, 6, 7, 8, 9, 10):
        cols[f"dup_{n}gram_char_frac"] = dup_ngram_char_frac(
            ga[f"s{n}"], toks, total, n
        )
    return cols


def _passes(cols: dict[str, Column]) -> Column:
    """The Gopher table-A1 verdict: every signal at or below its bound."""
    passes = None
    for name, bound in GOPHER_REP_THRESHOLDS.items():
        c = cols[name] <= F.lit(bound)
        passes = c if passes is None else (passes & c)
    return passes


def repetition_signals(docs: DataFrame) -> DataFrame:
    """The 13-signal vector + Gopher-threshold verdict per document."""
    from ..functions.text import generate_barrier

    txt = F.coalesce(F.col("text"), F.lit(""))
    toks = tokens(txt)
    base = ensure_parallelism(docs).select(
        "doc_id",
        toks.alias("toks"),
        F.split(txt, "\n").alias("lines"),
        F.split(txt, "\n\n").alias("paras"),
    )
    # Generate barrier: build + sort every gram array ONCE per row.
    # Projections don't cut it (CollapseProject inlines them into each
    # consumer), and HOF lambdas re-evaluate outer arrays per element —
    # the explode of a 1-element struct array is the one construct that
    # genuinely materializes these before the fold columns consume them.
    b = base.withColumn("_ga", F.explode(F.array(_rep_arrays(F.col("toks")))))
    cols = _signal_cols(F.col("toks"), F.col("lines"), F.col("paras"), F.col("_ga"))
    # SECOND barrier for the signal values themselves: every signal
    # expression is consumed TWICE — as an output column and inside the
    # passes_repetition AND-chain — and CollapseProject inlines
    # projection-defined columns into each consumer, which would re-run
    # all 13 folds. Materializing the signal struct once halves the fold
    # work (same trap, same cure as the gram arrays above).
    sig = generate_barrier(
        b, _sig=F.struct(*[c.alias(name) for name, c in cols.items()])
    )
    mat = {name: F.col(f"_sig.{name}") for name in cols}
    return sig.select(
        "doc_id",
        *[c.alias(name) for name, c in mat.items()],
        _passes(mat).alias("passes_repetition"),
    )


def with_repetition_verdict(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "rep_ok",
    min_tokens: int = GOPHER_REP_MIN_TOKENS,
) -> DataFrame:
    """Append the 13-threshold Gopher repetition VERDICT as one boolean
    column (TRUE = passes every table-A1 bound, OR the document is under
    the ``min_tokens`` length precondition — see GOPHER_REP_MIN_TOKENS;
    pass 0 for the raw thresholds) — the shared-builder entry point the
    batch curation pipeline and the streaming curation gate both call
    (round-8 verdict "Next round #1"), so the thresholds, the floor, and
    the signal definitions cannot drift from ext_repetition_signals: all
    three surfaces read the same _signal_cols/_passes expressions.

    Map-side and stateless (streaming-safe): one Project materializes
    the token/line/paragraph splits as attributes, one Generate barrier
    materializes the 9 sorted gram arrays, and the verdict is a single
    fold chain over those attributes — zero shuffle, no lambda ever
    indexes an outer array (the O(m^2) HOF trap this module's docstring
    documents). NULL text verdicts TRUE ('' has no repetition and is
    under any positive floor): the curation gate's too_short tier owns
    null text."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    pre = df.select(
        "*",
        tokens(txt).alias("_rtoks"),
        F.split(txt, "\n").alias("_rlines"),
        F.split(txt, "\n\n").alias("_rparas"),
    )
    b = pre.withColumn("_rga", F.explode(F.array(_rep_arrays(F.col("_rtoks")))))
    cols = _signal_cols(
        F.col("_rtoks"), F.col("_rlines"), F.col("_rparas"), F.col("_rga")
    )
    verdict = _passes(cols)
    if min_tokens > 0:
        verdict = (F.size("_rtoks") < min_tokens) | verdict
    return b.withColumn(out_col, verdict).drop(
        "_rtoks", "_rlines", "_rparas", "_rga"
    )


_ORACLE = """
WITH rs_t AS MATERIALIZED (
  SELECT doc_id,
         coalesce(text, '') AS tx,
         string_split(lower(coalesce(text, '')), ' ') AS toks
  FROM documents
),
base AS (
  SELECT doc_id, toks,
         string_split(tx, chr(10)) AS lines,
         string_split(tx, chr(10) || chr(10)) AS paras,
         length(array_to_string(toks, ' ')) AS total_chars
  FROM rs_t
),
segstats AS (
  SELECT doc_id,
    CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
      AS dup_line_frac,
    CASE WHEN coalesce(list_sum(list_transform(lines, l -> length(l))), 0) > 0
      THEN CAST(list_sum(list_transform(lines, l -> length(l)))
                - list_sum(list_transform(list_distinct(lines),
                                          l -> length(l))) AS DOUBLE)
           / list_sum(list_transform(lines, l -> length(l)))
      ELSE 0.0 END AS dup_line_char_frac,
    CAST(len(paras) - len(list_distinct(paras)) AS DOUBLE) / len(paras)
      AS dup_para_frac,
    CASE WHEN coalesce(list_sum(list_transform(paras, l -> length(l))), 0) > 0
      THEN CAST(list_sum(list_transform(paras, l -> length(l)))
                - list_sum(list_transform(list_distinct(paras),
                                          l -> length(l))) AS DOUBLE)
           / list_sum(list_transform(paras, l -> length(l)))
      ELSE 0.0 END AS dup_para_char_frac
  FROM base
),
occ AS MATERIALIZED (
  SELECT rs_t.doc_id, u.n, r.i AS pos,
         array_to_string(toks[r.i : r.i + u.n - 1], ' ') AS g
  FROM rs_t,
       LATERAL UNNEST([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS u(n),
       LATERAL UNNEST(range(1, len(toks) - u.n + 2)) AS r(i)
  WHERE len(toks) >= u.n
),
gcnt AS (
  SELECT doc_id, n, g, COUNT(*) AS c FROM occ WHERE n <= 4
  GROUP BY doc_id, n, g
),
topg AS (
  SELECT doc_id, n, MAX(c * length(g)) AS chars FROM gcnt GROUP BY doc_id, n
),
dupocc AS (
  SELECT o.doc_id, o.n, o.pos
  FROM occ o JOIN (
    SELECT doc_id, n, g FROM occ WHERE n >= 5
    GROUP BY doc_id, n, g HAVING COUNT(*) > 1
  ) d ON o.doc_id = d.doc_id AND o.n = d.n AND o.g = d.g
  WHERE o.n >= 5
),
cover AS (
  SELECT DISTINCT doc_id, n, u.tp
  FROM dupocc, LATERAL UNNEST(range(pos, pos + n)) AS u(tp)
),
runs AS (
  SELECT doc_id, n, tp,
         tp - ROW_NUMBER() OVER (PARTITION BY doc_id, n ORDER BY tp) AS grp
  FROM cover
),
tokpos AS (
  SELECT doc_id, r.i AS pos, length(toks[r.i]) AS tl
  FROM rs_t, LATERAL UNNEST(range(1, len(toks) + 1)) AS r(i)
),
covchars AS (
  SELECT r.doc_id, r.n,
         SUM(k.tl) + COUNT(*) - COUNT(DISTINCT r.grp) AS chars
  FROM runs r JOIN tokpos k ON r.doc_id = k.doc_id AND r.tp = k.pos
  GROUP BY r.doc_id, r.n
),
pivoted AS (
  SELECT b.doc_id,
    {top_cols},
    {dup_cols}
  FROM base b
  LEFT JOIN topg t2 ON b.doc_id = t2.doc_id AND t2.n = 2
  LEFT JOIN topg t3 ON b.doc_id = t3.doc_id AND t3.n = 3
  LEFT JOIN topg t4 ON b.doc_id = t4.doc_id AND t4.n = 4
  LEFT JOIN covchars c5 ON b.doc_id = c5.doc_id AND c5.n = 5
  LEFT JOIN covchars c6 ON b.doc_id = c6.doc_id AND c6.n = 6
  LEFT JOIN covchars c7 ON b.doc_id = c7.doc_id AND c7.n = 7
  LEFT JOIN covchars c8 ON b.doc_id = c8.doc_id AND c8.n = 8
  LEFT JOIN covchars c9 ON b.doc_id = c9.doc_id AND c9.n = 9
  LEFT JOIN covchars c10 ON b.doc_id = c10.doc_id AND c10.n = 10
)
SELECT s.doc_id,
       s.dup_line_frac, s.dup_line_char_frac,
       s.dup_para_frac, s.dup_para_char_frac,
       p.top_2gram_char_frac, p.top_3gram_char_frac, p.top_4gram_char_frac,
       p.dup_5gram_char_frac, p.dup_6gram_char_frac, p.dup_7gram_char_frac,
       p.dup_8gram_char_frac, p.dup_9gram_char_frac, p.dup_10gram_char_frac,
       (    s.dup_line_frac       <= 0.30 AND s.dup_para_frac       <= 0.30
        AND s.dup_line_char_frac  <= 0.20 AND s.dup_para_char_frac  <= 0.20
        AND p.top_2gram_char_frac <= 0.20 AND p.top_3gram_char_frac <= 0.18
        AND p.top_4gram_char_frac <= 0.16 AND p.dup_5gram_char_frac <= 0.15
        AND p.dup_6gram_char_frac <= 0.14 AND p.dup_7gram_char_frac <= 0.13
        AND p.dup_8gram_char_frac <= 0.12 AND p.dup_9gram_char_frac <= 0.11
        AND p.dup_10gram_char_frac <= 0.10) AS passes_repetition
FROM segstats s JOIN pivoted p ON s.doc_id = p.doc_id
""".format(
    top_cols=",\n    ".join(
        "CASE WHEN b.total_chars > 0 THEN CAST(coalesce(t{n}.chars, 0) AS DOUBLE)"
        " / b.total_chars ELSE 0.0 END AS top_{n}gram_char_frac".format(n=n)
        for n in (2, 3, 4)
    ),
    dup_cols=",\n    ".join(
        "CASE WHEN b.total_chars > 0 THEN CAST(coalesce(c{n}.chars, 0) AS DOUBLE)"
        " / b.total_chars ELSE 0.0 END AS dup_{n}gram_char_frac".format(n=n)
        for n in (5, 6, 7, 8, 9, 10)
    ),
)


def oracle_repetition_verdict_subquery(
    min_tokens: int = GOPHER_REP_MIN_TOKENS,
) -> str:
    """The 13-threshold verdict as a (doc_id, passes_repetition) derived
    table — the DuckDB twin of with_repetition_verdict, for splicing
    into composite oracles (the curation pipeline's gopher_repetition
    tier), including the same GOPHER_REP_MIN_TOKENS length precondition
    (documents under the floor pass vacuously; 0 gives the raw
    thresholds). Reuses the FULL 13-signal oracle so the two
    formulations can never diverge; DuckDB prunes the unread signal
    columns."""
    if min_tokens <= 0:
        return f"(SELECT doc_id, passes_repetition FROM ({_ORACLE}) AS _repsig)"
    return (
        f"(SELECT _repsig.doc_id,"
        f" (len(string_split(lower(coalesce(_repdoc.text, '')), ' ')) < {min_tokens}"
        f"  OR _repsig.passes_repetition) AS passes_repetition"
        f" FROM ({_ORACLE}) AS _repsig"
        f" JOIN documents _repdoc ON _repsig.doc_id = _repdoc.doc_id)"
    )


@register("ext_repetition_signals", oracle=_ORACLE)
def ext_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher table-A1 repetition-signal report over the documents
    table (see module docstring): 13 exact character-fraction signals
    plus the published-threshold verdict, computed map-side per row —
    zero shuffle; the DuckDB oracle re-derives every cell relationally
    (unnest + GROUP BY + islands), so the span-union folds are checked
    against an independent formulation."""
    return repetition_signals(load_table(spark, sf_dir, "documents"))
