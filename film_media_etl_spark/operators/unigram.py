"""Unigram-LM tokenization (Kudo 2018; the SentencePiece model family) —
the second production tokenizer tier next to BPE (operators/bpe.py).

Simplified-but-real pipeline, built on the same VOCABULARY trick that
makes BPE training corpus-size-independent:

- vocab seeding: every substring (length <= MAX_PIECE_LEN) of every
  DISTINCT word, weighted by word count; keep the top-K multi-char
  pieces plus ALL single characters (character coverage guarantees every
  word segments). Piece log-probability = log10(count / kept-mass),
  rounded to 6 decimals and carried as DECIMAL so downstream sums are
  exact and order-free (the TF-IDF / charlm convention).
- inference: exact Viterbi segmentation per distinct word — a single
  JVM-side `aggregate` fold over positions carrying the DP arrays
  (best log-prob AND piece count per prefix), so the best-path token
  count needs NO backtracking: ties on log-prob break to FEWER pieces,
  and any remaining tie cannot change the tracked outputs. Per-doc
  counts then come from a (doc, word) aggregate joined against the
  tiny (word -> n_pieces) table — the fold runs once per distinct
  word, never per occurrence.

OOV semantics: an unreachable prefix carries a NULL DP entry (array_max
skips NULLs, so reachable paths still win — textbook -infinity), and a
word whose chars are not covered by the piece table surfaces as
n_pieces NULL from the segmenter; unigram_tokenize_docs reports those
words in an explicit n_oov_words column instead of silently scoring
them as zero-token perfection (they are impossible when the vocab is
trained on the same corpus — the registered queries — but the public
builders accept any piece table).

Refinement: :func:`unigram_em_round` runs one hard-EM (Viterbi) round —
E-step re-counts pieces along the actual best segmentations (a second
fold walks the DP path BACKWARD with a smallest-start tie rule), M-step
re-normalizes over the used mass and prunes never-used pieces — the
SentencePiece prune step with the Viterbi approximation to the expected
counts. Simplification vs full SentencePiece, stated honestly: the
E-step uses hard Viterbi counts, not the forward-backward expected
counts.

Scale shape: one corpus-sized shuffle builds (word, n); everything
after is vocabulary-sized. The piece table is <= vocab_size + charset
rows and broadcasts; the substring explode is bounded by word length
(<= MAX_PIECE_LEN * |word| pairs per word), never by document length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens

MAX_PIECE_LEN = 6
VOCAB_SIZE = 64  # multi-char pieces kept (plus full character coverage)
_LOGP_DEC = "decimal(20,6)"


def word_counts(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(w, n): the deduplicated word vocabulary with counts."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _all_substrings(words: DataFrame) -> DataFrame:
    """(piece, c): every substring of length <= MAX_PIECE_LEN of every
    distinct word, weighted by the word's corpus count."""
    pieces = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(MAX_PIECE_LEN), F.length("w") - i + 1),
                ),
                lambda l: F.col("w").substr(i, l),
            ),
        )
    )
    return (
        words.select(F.explode(pieces).alias("piece"), "n")
        .groupBy("piece")
        .agg(F.sum("n").alias("c"))
    )


def build_unigram_vocab(
    docs: DataFrame, *, text_col: str = "text", words: DataFrame | None = None
) -> DataFrame:
    """Learn the unigram piece table: (piece, c, logp) — top VOCAB_SIZE
    multi-char substrings by weighted count (ties: lexicographic) plus
    every single character, log-probs normalized over the KEPT mass.
    Pass a precomputed ``words`` (w, n) frame to reuse the corpus scan
    (unigram_em_round does — one scan feeds both stages)."""
    subs = _all_substrings(
        words if words is not None else word_counts(docs, text_col=text_col)
    )
    top = (
        subs.where(F.length("piece") > 1)
        .orderBy(F.desc("c"), F.asc("piece"))
        .limit(VOCAB_SIZE)
    )
    chars = subs.where(F.length("piece") == 1)
    vocab = top.unionByName(chars)
    tot = vocab.agg(F.sum("c").alias("t"))
    return vocab.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.col("c").cast("long").alias("c"),
        F.round(F.log10(F.col("c").cast("double") / F.col("t")), 6)
        .cast(_LOGP_DEC)
        .alias("logp"),
    )


def _word_matches(words: DataFrame, pieces: DataFrame) -> DataFrame:
    """(w, matches): per distinct word, the sorted array of piece-match
    structs (j = exclusive end, i = 1-based start, logp) — the DP input
    shared by the count-only fold and the path-extracting fold. Built
    by a broadcast equi-join on the substring text; bounded per word by
    |w| x MAX_PIECE_LEN."""
    spans = words.select(
        "w",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(
                                F.lit(MAX_PIECE_LEN), F.length("w") - i + 1
                            ),
                        ),
                        lambda l: F.struct(
                            i.cast("int").alias("i"),
                            (i + l).cast("int").alias("j"),
                            F.col("w").substr(i, l).alias("piece"),
                        ),
                    ),
                )
            )
        ).alias("m"),
    ).select("w", "m.i", "m.j", "m.piece")
    matched = spans.join(F.broadcast(pieces.select("piece", "logp")), "piece")
    return matched.groupBy("w").agg(
        F.sort_array(F.collect_list(F.struct("j", "i", "logp"))).alias("matches")
    )


def _forward_step(acc, j):
    """One forward-DP position: best (logp, piece count) for prefix j.
    Candidates are matches ending at j (m.j is the EXCLUSIVE end, hence
    j + 1); NULL DP entries (unreachable prefixes) propagate NULL
    contributions that array_max skips — -infinity semantics."""
    cands = F.filter(acc["ms"], lambda m: m["j"] == j + 1)
    scored = F.transform(
        cands,
        lambda m: F.struct(
            (F.element_at(acc["lps"], m["i"]) + m["logp"])
            .cast(_LOGP_DEC)
            .alias("lp"),
            (-(F.element_at(acc["nps"], m["i"]) + 1)).alias("nnp"),
        ),
    )
    best = F.array_max(scored)
    return F.struct(
        F.concat(acc["lps"], F.array(best["lp"])).alias("lps"),
        F.concat(acc["nps"], F.array(-best["nnp"])).alias("nps"),
        acc["ms"].alias("ms"),
    )


def _forward_fold(per_word: DataFrame) -> DataFrame:
    """(w, matches, lps, nps): the full forward DP arrays per word."""
    zero = F.lit("0").cast(_LOGP_DEC)
    return per_word.select(
        "w",
        "matches",
        F.aggregate(
            F.sequence(F.lit(1), F.length("w")),
            F.struct(
                F.array(zero).alias("lps"),
                F.array(F.lit(0)).alias("nps"),
                F.col("matches").alias("ms"),
            ),
            _forward_step,
        ).alias("dp"),
    ).select("w", "matches", "dp.lps", "dp.nps")


def viterbi_word_segments(words: DataFrame, pieces: DataFrame) -> DataFrame:
    """Exact Viterbi per distinct word: (w, n_pieces, word_logp).

    Maximization uses Spark's lexicographic struct ordering on
    (logp, -n_pieces): highest probability first, fewer pieces on ties;
    any deeper tie leaves both tracked outputs identical, so the result
    is deterministic without further tie-breaking. Words the piece
    table cannot cover come back with NULL n_pieces/word_logp — the
    caller decides the OOV policy (see unigram_tokenize_docs)."""
    fwd = _forward_fold(_word_matches(words, pieces))
    end_lp = F.element_at(F.col("lps"), F.length("w") + 1)
    # OOV detection keys off the DECIMAL array: the int nps array has
    # non-nullable elements, so its NULL coerces to 0 — the logp NULL
    # survives and is the reliable unreachability signal for both.
    return fwd.select(
        "w",
        F.when(
            end_lp.isNotNull(),
            F.element_at(F.col("nps"), F.length("w") + 1),
        )
        .cast("int")
        .alias("n_pieces"),
        end_lp.alias("word_logp"),
    )


def word_counts_per_doc(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, w, cnt): per-document word counts. Callers that also need
    the corpus vocabulary derive it with a narrow second aggregate
    (groupBy(w).sum(cnt)) instead of a second word_counts spelling — see
    ext_unigram_tokenize. The frame is a plan, not a cache: every
    consumer of it scans and tokenizes the corpus again."""
    return (
        docs.select(
            F.col(id_col),
            F.explode(tokens(text_col)).alias("w"),
        )
        .where(F.col("w") != "")
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def unigram_tokenize_docs(
    docs: DataFrame,
    pieces: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    wpd: DataFrame | None = None,
) -> DataFrame:
    """Per-document unigram-LM token counts: Viterbi once per DISTINCT
    word (the vocabulary trick), then a (doc, word) aggregate joined
    against the tiny (w -> n_pieces, word_logp) table. Words the piece
    table cannot segment are counted in n_oov_words (and excluded from
    the token/logp totals) — never silently scored as zero-token
    perfection. Docs with null/empty text keep zeros via the left
    join, never NULL. Pass a precomputed ``wpd`` (word_counts_per_doc
    frame) to share the corpus tokenization with the vocab builder."""
    if wpd is None:
        wpd = word_counts_per_doc(docs, text_col=text_col, id_col=id_col)
    segs = viterbi_word_segments(wpd.select("w").distinct(), pieces)
    # LEFT join: a word with NO piece match at all (every char OOV) is
    # absent from the segmenter's output and must still count as OOV.
    # Broadcast: segs is one row per DISTINCT word (vocabulary-sized,
    # never corpus-sized); broadcasting it means the corpus-sized wpd
    # frame shuffles exactly once — on id_col for the groupBy below,
    # which is unavoidable — instead of an extra word-keyed exchange
    # for a sort-merge join. Drop the hint only if the vocabulary
    # itself outgrows executor memory (web-scale junk tokens), at
    # which point cap the vocab upstream rather than shuffle the
    # corpus twice.
    oov = F.col("n_pieces").isNull()
    per_doc = (
        wpd.join(F.broadcast(segs), "w", "left")
        .groupBy(id_col)
        .agg(
            F.coalesce(
                F.sum(F.when(~oov, F.col("cnt") * F.col("n_pieces"))), F.lit(0)
            )
            .cast("long")
            .alias("n_unigram_tokens"),
            F.sum("cnt").cast("long").alias("n_words"),
            F.coalesce(F.sum(F.when(oov, F.col("cnt"))), F.lit(0))
            .cast("long")
            .alias("n_oov_words"),
            F.coalesce(
                F.sum(
                    F.when(~oov, F.col("cnt").cast(_LOGP_DEC) * F.col("word_logp"))
                ),
                F.lit("0").cast(_LOGP_DEC),
            )
            .cast("decimal(28,6)")
            .alias("doc_logp"),
        )
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_unigram_tokens", F.lit(0).cast("long")).alias(
            "n_unigram_tokens"
        ),
        F.coalesce("n_words", F.lit(0).cast("long")).alias("n_words"),
        F.coalesce("n_oov_words", F.lit(0).cast("long")).alias("n_oov_words"),
        F.coalesce(
            F.col("doc_logp"), F.lit("0").cast("decimal(28,6)")
        ).alias("doc_logp"),
    )


def viterbi_segment_pieces(words: DataFrame, pieces: DataFrame) -> DataFrame:
    """(w, seg): the actual best-path piece sequence per distinct word —
    the shared forward DP, then a second fold walks the path BACKWARD:
    at prefix j, among candidates whose (logp, count) equals the stored
    optimum, take the smallest start i (the longest final piece) — a
    total tie rule, so the segmentation is a pure function of
    (word, piece table). Feeds the EM/pruning round; the count-only
    fold stays the cheaper inference path. Uncoverable words yield an
    EMPTY seg (the backward walk stops when no candidate reproduces the
    NULL optimum) — and a word matching NO piece at all is absent from
    the output entirely (the match join is inner); callers LEFT-join,
    mirroring viterbi_word_segments' OOV contract."""
    fwd = _forward_fold(_word_matches(words, pieces))

    def bwd_step(acc, _):
        j = acc["j"]
        cands = F.filter(
            acc["ms"],
            lambda m: (m["j"] == j + 1)
            & (
                (F.element_at(acc["lps"], m["i"]) + m["logp"]).cast(_LOGP_DEC)
                == F.element_at(acc["lps"], j + 1)
            )
            & (
                F.element_at(acc["nps"], m["i"]) + 1
                == F.element_at(acc["nps"], j + 1)
            ),
        )
        imin = F.array_min(F.transform(cands, lambda m: m["i"]))
        piece = F.col("w").substr(imin, j - imin + 1)
        advanced = F.struct(
            (imin - 1).alias("j"),
            F.concat(acc["out"], F.array(piece)).alias("out"),
            acc["ms"].alias("ms"),
            acc["lps"].alias("lps"),
            acc["nps"].alias("nps"),
        )
        # imin NULL = no candidate reproduces the stored optimum, which
        # only happens when the word is uncoverable (end prefix NULL):
        # stop the walk with `out` untouched so the seg comes back
        # EMPTY, as documented — without this guard each iteration
        # would append a NULL piece that unigram_em_round would then
        # explode into the used-mass normalizer.
        return F.when((j <= 0) | imin.isNull(), acc).otherwise(advanced)

    bwd = fwd.select(
        "w",
        F.aggregate(
            F.sequence(F.lit(1), F.length("w")),
            F.struct(
                F.length("w").cast("int").alias("j"),
                F.array().cast("array<string>").alias("out"),
                F.col("matches").alias("ms"),
                F.col("lps").alias("lps"),
                F.col("nps").alias("nps"),
            ),
            bwd_step,
        ).alias("walk"),
    )
    return bwd.select("w", F.reverse(F.col("walk.out")).alias("seg"))


def unigram_em_round(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """One hard-EM (Viterbi) round over the seed vocabulary: E-step
    re-counts each piece's corpus-weighted usage in the best
    segmentations; M-step re-normalizes log-probs over the USED mass
    and prunes never-used pieces (module doc). Output per seed piece:
    (piece, c_seed, c_em, logp_em, pruned); pruned rows carry the 0
    sentinel (never NULL — driver contract).

    Scale: ONE corpus scan builds (w, n), feeding both the vocab seeding
    and the segmentation (the frame is checkpointed and passed through);
    the E-step count is an explode + map-side-combined aggregate over
    vocabulary-sized data; the piece table stays broadcast-sized."""
    words = word_counts(docs, text_col=text_col).localCheckpoint(eager=False)
    pieces = build_unigram_vocab(docs, text_col=text_col, words=words)
    segs = viterbi_segment_pieces(words.select("w"), pieces)
    used = (
        segs.join(words, "w")
        .select(F.explode("seg").alias("piece"), "n")
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("c_em"))
    )
    tot = used.agg(F.sum("c_em").alias("t"))
    return (
        pieces.join(used, "piece", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "piece",
            F.col("c").alias("c_seed"),
            F.coalesce("c_em", F.lit(0).cast("long")).alias("c_em"),
            F.when(
                F.col("c_em").isNotNull(),
                F.round(
                    F.log10(F.col("c_em").cast("double") / F.col("t")), 6
                ).cast(_LOGP_DEC),
            )
            .otherwise(F.lit("0").cast(_LOGP_DEC))
            .alias("logp_em"),
            F.col("c_em").isNull().alias("pruned"),
        )
    )
