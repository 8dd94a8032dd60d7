"""Semantic-level corpus curation: SemDeDup-style embedding dedup and
DSIR-style importance weighting — the two published techniques a modern
LLM training-data pipeline layers on top of the lexical dedup/quality
stack (ext_dedup_* / ext_quality / ext_corpus_rebalance).

- ``ext_dedup_semantic`` re-expresses SemDeDup (Abbas et al., 2023,
  arXiv:2303.09540): cluster the embedding space with a coarse
  quantizer, then prune near-duplicate *meanings* inside each cluster by
  pairwise cosine — the cluster assignment bounds the quadratic to
  cluster-sized blocks, which is the whole scaling argument of the
  paper.
- ``ext_dsir_weights`` re-expresses DSIR (Xie et al., 2023,
  arXiv:2302.03169): score every raw document by the log-likelihood
  ratio of a target-domain unigram LM vs the raw-corpus unigram LM;
  high-weight documents are the ones importance resampling keeps.

Cross-engine exactness: distances/cosines are the strict left-to-right
double folds of functions/vectors.py (bit-identical in DuckDB's
list_reduce); per-token log-ratios are rounded to 6 decimals and summed
as DECIMAL (order-independent — the charlm.py convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    oracle_c4_kept_lines,
    oracle_c4_reason,
    oracle_c4_sentence_count,
    oracle_curation_blocklist_reason,
    oracle_curation_c4_reason,
    oracle_gopher_reason,
    oracle_predicted_lang,
    oracle_quality_score,
    tokens,
)
from .repetition_signals import oracle_repetition_verdict_subquery
from ..functions.vectors import dot, l2sq, oracle_dot, oracle_l2sq, to_double_vec
from ..sources import ensure_parallelism, load_table
from .registry import register

# Coarse-quantizer sizing: K = max(8, N // _SEM_BLOCK) seed centroids
# (vec_id < K) stand in for a trained IVF codebook — K GROWS WITH THE
# CORPUS so per-cluster block size (and with it the pairwise stage's
# quadratic bound) stays ~constant. A fixed K=8 grows every block with
# the corpus (blocks 4x -> pairs 16x at 4x corpus — the exact failure
# SemDeDup's corpus-scaled clustering exists to prevent); adaptive K
# bounds the EVALUATED-candidate volume at ~sum(block^2) ~ N * block.
# NOTE the VERIFIED-pair output is a property of the data, not the plan: a 4x
# perturbed-copy corpus carries ~16x true pairs (every cross-copy pair
# of a true pair also qualifies), and uniform-random embeddings make a
# fixed absolute threshold intrinsically dense — on such corpora wall
# time tracks output size, which no blocking scheme can shrink.
# The count-based rule is deterministic and shared with the oracle (a
# scalar subquery), so the query stays
# hash-checkable at every sf. Centroid TRAINING is iterative and lives
# in operators/similarity.py with tolerance-tested coverage instead.
_K_MIN = 8
_SEM_BLOCK = 625  # target vectors per cluster
_K_SQL = f"(SELECT GREATEST({_K_MIN}, COUNT(*) // {_SEM_BLOCK}) FROM embeddings)"
_SEM_THETA = 0.3  # uniform-random fixture embeddings: cosines concentrate
# near 0 (std ~ 1/sqrt(64)), so 0.3 marks genuine outlier similarity —
# same threshold as ext_dedup_embedding for comparability.
_TILES = 4  # pairwise-stage parallelism multiplier (see triangle tiling
# comment in ext_dedup_semantic): tasks = K * TILES*(TILES+1)/2.


_K_INLINE_MAX = 64  # codebook-as-literals cutover (see _assign_clusters)


def _assign_clusters(emb: DataFrame, k: int, *, inline_max: int = _K_INLINE_MAX) -> DataFrame:
    """Nearest-centroid assignment, adaptive to codebook size.

    Small K (<= inline_max): the codebook is collected and INLINED as
    literals, so assignment is a pure map expression — zero shuffles,
    no crossJoin, no window (the crossJoin+window formulation repeats
    its scan+window subtree in every consumer because Spark does not
    CSE across DataFrame reuse). Large K: literals would blow the
    codegen method limit, so the codebook rides an F.broadcast join and
    the argmin becomes a min(struct(dist2, cid)) AGGREGATE (not a
    window — hash-aggregatable, map-side combining, same lexicographic
    tie-break). Both paths produce identical assignments: the struct
    min and the least() literal fold order by (dist2 ASC, cid ASC)."""
    ve = to_double_vec(F.col("embedding"))
    if k <= inline_max:
        codebook = (
            emb.where(F.col("vec_id") < k)
            .select(F.col("vec_id").alias("cid"), to_double_vec(F.col("embedding")).alias("ce"))
            .collect()
        )
        best = F.least(
            *[
                F.struct(
                    l2sq(ve, F.array(*[F.lit(x) for x in row["ce"]])).alias("dist2"),
                    F.lit(int(row["cid"])).cast("long").alias("cid"),
                )
                for row in sorted(codebook, key=lambda r: r["cid"])
            ]
        )
        return emb.select(
            "vec_id",
            best["cid"].alias("centroid_id"),
            ve.alias("ve"),
            F.sqrt(dot(ve, ve)).alias("nrm"),
        )
    seeds = F.broadcast(
        emb.where(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), to_double_vec(F.col("embedding")).alias("ce")
        )
    )
    # the argmin shuffle carries ONLY (vec_id, struct) — the 64-double
    # vectors re-join from the columnar scan instead of riding K copies
    # through the exchange
    best = (
        emb.select("vec_id", ve.alias("_ve"))
        .join(seeds)
        .select(
            "vec_id",
            F.struct(
                l2sq(F.col("_ve"), F.col("ce")).alias("dist2"),
                F.col("cid").alias("cid"),
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", F.col("best.cid").alias("centroid_id"))
    )
    return emb.select(
        "vec_id", ve.alias("ve"), F.sqrt(dot(ve, ve)).alias("nrm")
    ).join(best, "vec_id")



@register(
    "ext_dedup_semantic",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS centroid_id, embedding AS ce
      FROM embeddings WHERE vec_id < {_K_SQL}
    ),
    scored AS (
      SELECT v.vec_id, s.centroid_id,
             {oracle_l2sq("v.embedding", "s.ce")} AS dist2
      FROM embeddings v CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT a.vec_id, a.centroid_id, e.embedding,
             sqrt({oracle_dot("e.embedding", "e.embedding")}) AS nrm
      FROM (
        SELECT vec_id, centroid_id
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist2 ASC, centroid_id ASC) AS rn
          FROM scored
        ) WHERE rn = 1
      ) a JOIN embeddings e ON a.vec_id = e.vec_id
    ),
    dup_counts AS (
      SELECT b.vec_id AS vid, CAST(COUNT(*) AS INT) AS n
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {oracle_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
            >= {_SEM_THETA}
      GROUP BY b.vec_id
    )
    SELECT s.vec_id, s.centroid_id AS cluster_id,
           d.vid IS NOT NULL AS pruned,
           COALESCE(d.n, 0) AS n_sim_lower
    FROM assigned s LEFT JOIN dup_counts d ON s.vec_id = d.vid
    """,
)
def ext_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: coarse-quantizer clustering + within-cluster cosine
    pruning. A vector is ``pruned`` when a LOWER-id vector in its
    cluster sits above the similarity threshold (greedy min-id survivor
    — the same convention as ext_dedup_survivors; chains prune
    everything but each block's first member).

    Scale shape: centroids broadcast, so assignment is a map-only pass
    (K folds per row, argmin over a K-row window keyed by vec_id). The
    pairwise stage shuffles once on cluster_id and is quadratic ONLY
    inside a cluster — the coarse quantizer is the blocking key, and at
    100 TB K scales with the corpus so blocks stay bounded (the
    SemDeDup paper's argument verbatim). Norms are computed once per
    vector, so each pair costs one dot fold, not three."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    # K adapts to the corpus (see sizing comment above); the count is one
    # columnar scan, same driver-side pattern as the IVF/PQ trainers.
    n_vecs = emb.count()
    k = max(_K_MIN, n_vecs // _SEM_BLOCK)
    if n_vecs == 0:  # empty corpus: emit the schema, nothing to cluster
        return emb.select(
            "vec_id",
            F.lit(None).cast("long").alias("cluster_id"),
            F.lit(False).alias("pruned"),
            F.lit(0).cast("int").alias("n_sim_lower"),
        )
    assigned = _assign_clusters(emb, k)
    # Triangle tiling for the pairwise stage: joining on cluster_id alone
    # shuffles onto K keys, so the biggest stage runs at most K tasks (at
    # K=8 that idles 3/4 of a 32-core box, and one hot cluster is one
    # unsplittable task). Split each cluster into S vec_id-hash subgroups
    # and run the unordered-pair triangle as its S(S+1)/2 tiles: the LEFT
    # side replicates to the tiles where its subgroup is the ROW (t1=g),
    # the RIGHT side to those where it is the COLUMN (t2=g). An
    # off-diagonal tile (i,j) then joins exactly subgroup-i x subgroup-j
    # — every cross-subgroup pair lands in exactly ONE tile with no
    # ordering guard, and candidate volume equals the untiled a<b count
    # (a both-sides-to-all-tiles spelling evaluates MORE candidate
    # cosine folds — the guard discards them only after the join emits
    # them). Diagonal tiles keep the vec_id< constraint.
    # Result: K*S(S+1)/2-way parallelism, <=S-fold replication of tiny
    # (id, vec) rows, identical pair set.
    grp = F.pmod(F.xxhash64("vec_id"), F.lit(_TILES)).cast("int")

    def _tiled(side: str) -> DataFrame:
        structs = [
            F.struct(
                (F.col("g") if side == "row" else F.lit(i).cast("int")).alias("t1"),
                (F.lit(i).cast("int") if side == "row" else F.col("g")).alias("t2"),
            )
            for i in range(_TILES)
        ]
        return (
            assigned.withColumn("g", grp)
            .withColumn("t", F.explode(F.array(*structs)))
            .where(F.col("t.t1") <= F.col("t.t2"))
            .select("vec_id", "centroid_id", "ve", "nrm", "t.t1", "t.t2")
        )

    a, b = _tiled("row").alias("a"), _tiled("col").alias("b")
    cos = dot(F.col("a.ve"), F.col("b.ve")) / (F.col("a.nrm") * F.col("b.nrm"))
    pair_ok = (F.col("a.t1") != F.col("a.t2")) | (F.col("a.vec_id") < F.col("b.vec_id"))
    dup_counts = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.t1") == F.col("b.t1"))
            & (F.col("a.t2") == F.col("b.t2"))
            & pair_ok,
        )
        .where(cos >= _SEM_THETA)
        # the pruned member of an (unordered) pair is the HIGHER vec_id
        .groupBy(
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vid")
        )
        .agg(F.count(F.lit(1)).cast("int").alias("n"))
    )
    return assigned.join(
        dup_counts, assigned["vec_id"] == dup_counts["vid"], "left"
    ).select(
        "vec_id",
        F.col("centroid_id").alias("cluster_id"),
        F.col("vid").isNotNull().alias("pruned"),
        F.coalesce("n", F.lit(0)).alias("n_sim_lower"),
    )


# DSIR target domain: English documents (the dominant, highest-quality
# slice of the fixture corpus). The raw distribution is the whole corpus.
_DSIR_TARGET = "lang = 'en'"


@register(
    "ext_dsir_weights",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    raw AS (SELECT tok, COUNT(*) AS cr FROM tk GROUP BY tok),
    tgt AS (SELECT tok, COUNT(*) AS ct FROM tk WHERE {_DSIR_TARGET} GROUP BY tok),
    tot AS (
      SELECT (SELECT SUM(cr) FROM raw) AS nr,
             (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt,
             (SELECT COUNT(*) FROM raw) AS v
    ),
    model AS (
      SELECT r.tok,
             CAST(ROUND(
               log10((COALESCE(t.ct, 0) + 1) / CAST(nt + v AS DOUBLE))
               - log10((r.cr + 1) / CAST(nr + v AS DOUBLE)), 6)
               AS DECIMAL(12,6)) AS lr
      FROM raw r LEFT JOIN tgt t ON r.tok = t.tok CROSS JOIN tot
    )
    SELECT tk.doc_id, tk.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(m.lr) AS DOUBLE) AS dsir_weight
    FROM tk JOIN model m ON tk.tok = m.tok
    GROUP BY tk.doc_id, tk.lang
    """,
)
def ext_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: per-document log-likelihood ratio of the
    target-domain (English) unigram LM against the raw-corpus unigram
    LM, add-one smoothed over the shared vocabulary. High weight =
    target-like; importance resampling keeps documents with probability
    increasing in this weight (selection itself is a TakeOrdered /
    threshold downstream — deliberately not a global sort here).

    Scale shape: two token-count aggregates (explode -> map-side partial
    agg -> vocab-sized result), a vocab-sized model join, and one
    corpus-sized groupBy(doc_id) with map-side DECIMAL partial sums. The
    model table is vocabulary-bounded; the paper's hashed-n-gram variant
    (bucket tokens with a hash to cap the model at 10k rows) drops in by
    replacing `tok` with `pmod(xxhash64(tok), B)` on the Spark side —
    kept un-hashed here so the oracle shares the exact token keys.
    Per-token log-ratios round to 6 decimals and sum as DECIMAL, so the
    result is fold-order-independent and bit-identical across engines
    (charlm.py convention)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tk = ensure_parallelism(docs).select(
        "doc_id", "lang", F.explode(tokens("text")).alias("tok")
    )
    # BOTH unigram models in one pass: conditional count for the target
    # inside the raw count's aggregate — one corpus explode+shuffle
    # instead of two, and no raw⋈target join (the oracle keeps the
    # two-CTE spelling for clarity; the arithmetic is identical).
    counts = tk.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(F.when(F.expr(_DSIR_TARGET), 1)).alias("ct"),
    )
    tot = counts.agg(
        F.sum("cr").alias("nr"),
        F.sum("ct").alias("nt"),
        F.count(F.lit(1)).alias("v"),
    )
    lr = F.round(
        F.log10((F.col("ct") + 1) / (F.col("nt") + F.col("v")).cast("double"))
        - F.log10((F.col("cr") + 1) / (F.col("nr") + F.col("v")).cast("double")),
        6,
    ).cast("decimal(12,6)")
    model = counts.crossJoin(F.broadcast(tot)).select("tok", lr.alias("lr"))
    return (
        tk.join(model, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lr").cast("double").alias("dsir_weight"),
        )
    )


def semantic_survivor_prune(assigned: DataFrame, *, theta: float = _SEM_THETA) -> DataFrame:
    """Survivor-only SemDeDup decision: pruned(v) = EXISTS a lower-id
    same-cluster vector with cosine >= theta — a LEFT SEMI join instead
    of the all-pairs count.

    Why this variant exists (round-3 verdict #2): the counting query's
    output is the number of qualifying PAIRS, which on a duplicate-
    saturated corpus grows quadratically no matter how well the blocking
    bounds candidates — the engine was output-bound in its worst case.
    A consumer that only needs the keep/drop decision never needs the
    pair count: the semi join emits at most one row per probe vector,
    and Spark's semi-join probe short-circuits on the FIRST build row
    satisfying the residual (lower-id AND cosine) condition, so on a
    saturated corpus per-row work collapses to ~O(1) matches and total
    wall tracks N, not N^2 (pinned by
    tests/test_dedup_recall.py::test_semantic_survivors_saturated_corpus_linear).
    ``assigned`` is the (vec_id, centroid_id, ve, nrm) frame from
    _assign_clusters, shared with ext_dedup_semantic."""
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        F.col("centroid_id").alias("b_cid"),
        F.col("ve").alias("bve"),
        F.col("nrm").alias("bnrm"),
    )
    cos = dot(F.col("ve"), F.col("bve")) / (F.col("nrm") * F.col("bnrm"))
    pruned = assigned.join(
        b,
        (F.col("centroid_id") == F.col("b_cid"))
        & (F.col("b_id") < F.col("vec_id"))
        & (cos >= theta),
        "left_semi",
    ).select(F.col("vec_id").alias("pid"))
    return assigned.join(pruned, assigned["vec_id"] == F.col("pid"), "left").select(
        "vec_id",
        F.col("centroid_id").alias("cluster_id"),
        F.col("pid").isNotNull().alias("pruned"),
    )


@register(
    "ext_dedup_semantic_survivors",
    oracle=f"""
    WITH seeds AS MATERIALIZED (
      SELECT vec_id AS centroid_id, embedding AS ce
      FROM embeddings WHERE vec_id < {_K_SQL}
    ),
    assigned AS MATERIALIZED (
      SELECT a.vec_id, a.centroid_id, e.embedding,
             sqrt({oracle_dot("e.embedding", "e.embedding")}) AS nrm
      FROM (
        SELECT vec_id, centroid_id
        FROM (
          SELECT v.vec_id, s.centroid_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {oracle_l2sq("v.embedding", "s.ce")} ASC,
                            s.centroid_id ASC) AS rn
          FROM embeddings v CROSS JOIN seeds s
        ) WHERE rn = 1
      ) a JOIN embeddings e ON a.vec_id = e.vec_id
    )
    SELECT s.vec_id, s.centroid_id AS cluster_id,
           EXISTS (
             SELECT 1 FROM assigned b
             WHERE b.centroid_id = s.centroid_id AND b.vec_id < s.vec_id
               AND {oracle_dot("s.embedding", "b.embedding")} / (s.nrm * b.nrm)
                   >= {_SEM_THETA}
           ) AS pruned
    FROM assigned s
    """,
)
def ext_dedup_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decisions without the pair count — the
    output-bounded tier of ext_dedup_semantic (same clustering, same
    threshold, same greedy min-id survivor convention; agreement between
    the two is pinned by tests). Use THIS one on corpora where heavy
    duplication is expected: its cost is O(candidates scanned until
    first hit), never O(qualifying pairs)."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    n_vecs = emb.count()
    if n_vecs == 0:
        return emb.select(
            "vec_id",
            F.lit(None).cast("long").alias("cluster_id"),
            F.lit(False).alias("pruned"),
        )
    assigned = _assign_clusters(emb, max(_K_MIN, n_vecs // _SEM_BLOCK))
    return semantic_survivor_prune(assigned)


@register("ext_dedup_minhash_survivors")  # hash-seeded -> rows-only check
def ext_dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop tier of ext_dedup_minhash: same signatures and banding,
    but a LEFT SEMI probe that stops at each document's first verified
    lower-id duplicate instead of emitting every pair — the
    output-bounded spelling for duplicate-heavy corpora (see
    operators/dedup.py:minhash_lsh_survivors; agreement with the pairs
    op and near-linear saturated-corpus wall are pinned in
    tests/test_dedup_recall.py)."""
    from ..operators.dedup import minhash_lsh_survivors

    return minhash_lsh_survivors(load_table(spark, sf_dir, "documents"))


@register("ext_dedup_simhash_survivors")  # hash-seeded -> rows-only check
def ext_dedup_simhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop tier of ext_dedup_simhash (see
    operators/dedup.py:simhash_survivors) — the third member of the
    output-bounded survivors trio; agreement with the pairs op is pinned
    in tests/test_dedup_recall.py."""
    from ..operators.dedup import simhash_survivors

    return simhash_survivors(load_table(spark, sf_dir, "documents"))


def _curation_oracle(blk_sql: str) -> str:
    """The shared-gate DuckDB oracle, parameterized on the blocklist
    tier's SQL (the one knob the registered surfaces vary): the empty
    default lexicon for ext_curation_pipeline, the demo lexicon for
    ext_curation_gate_joinpath — every other tier is spliced from the
    same oracle builders both queries share, so the two oracles cannot
    drift from each other or from the engine's FIXED gate order
    (functions/text.curation_scalar_reason)."""
    return """
    WITH t AS MATERIALIZED (
      SELECT doc_id, text, string_split(lower(text), ' ') AS toks
      FROM documents
    ),
    b AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
      FROM t, LATERAL unnest(generate_series(1, len(toks)-1)) AS u(i)
    ),
    c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM b GROUP BY doc_id, bg),
    r AS (
      SELECT doc_id, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg ASC) AS rn,
             SUM(cnt) OVER (PARTITION BY doc_id) AS n_bigrams
      FROM c
    ),
    top AS (SELECT doc_id, cnt AS topc, n_bigrams FROM r WHERE rn = 1),
    dup AS (
      SELECT text, MIN(doc_id) AS keep_id FROM documents
      WHERE text IS NOT NULL GROUP BY text
    )
    SELECT t.doc_id,
           CASE
             WHEN t.text IS NULL OR len(t.toks) < 5 THEN 'too_short'
             WHEN {pred} <> 'en' THEN 'wrong_lang'
             WHEN {q} < 0.5 THEN 'low_quality'
             WHEN ({gor}) <> 'ok' THEN ({gor})
             WHEN ({c4r}) <> 'ok' THEN ({c4r})
             WHEN NOT (CAST(len(list_distinct(t.toks)) AS DOUBLE)
                         / CAST(len(t.toks) AS DOUBLE) >= 0.3
                       AND CAST(top.topc AS DOUBLE)
                         / CAST(top.n_bigrams AS DOUBLE) <= 0.18)
               THEN 'repetitive'
             WHEN ({blk}) <> 'ok' THEN ({blk})
             WHEN NOT rep.passes_repetition THEN 'gopher_repetition'
             WHEN dup.keep_id < t.doc_id THEN 'duplicate'
             ELSE 'ok'
           END AS reject_reason,
           CASE
             WHEN t.text IS NULL OR len(t.toks) < 5 THEN FALSE
             WHEN {pred} <> 'en' THEN FALSE
             WHEN {q} < 0.5 THEN FALSE
             WHEN ({gor}) <> 'ok' THEN FALSE
             WHEN ({c4r}) <> 'ok' THEN FALSE
             WHEN NOT (CAST(len(list_distinct(t.toks)) AS DOUBLE)
                         / CAST(len(t.toks) AS DOUBLE) >= 0.3
                       AND CAST(top.topc AS DOUBLE)
                         / CAST(top.n_bigrams AS DOUBLE) <= 0.18)
               THEN FALSE
             WHEN ({blk}) <> 'ok' THEN FALSE
             WHEN NOT rep.passes_repetition THEN FALSE
             WHEN dup.keep_id < t.doc_id THEN FALSE
             ELSE TRUE
           END AS keep
    FROM t
    LEFT JOIN top ON t.doc_id = top.doc_id
    LEFT JOIN dup ON t.text = dup.text
    JOIN {rep} rep ON t.doc_id = rep.doc_id
    """.format(
        pred=oracle_predicted_lang("t.text"),
        q=oracle_quality_score("t.text"),
        gor=oracle_gopher_reason("t.text", "t.toks"),
        c4r=oracle_curation_c4_reason("t.text"),
        blk=blk_sql,
        rep=oracle_repetition_verdict_subquery(),
    )


def curation_verdict(
    docs: DataFrame,
    *,
    lexicon: tuple[str, ...] | None = None,
    blocklist_max_expr: int | None = None,
) -> DataFrame:
    """The batch curation gate as ONE reusable builder (round-10): the
    full FIXED-order verdict over a (doc_id, text) frame, parameterized
    on the blocklist lexicon. ``lexicon`` defaults to the shipped empty
    CURATION_BLOCKLIST; ``blocklist_max_expr`` is the expression-path
    phrase cap (default queries/blocklist.BLOCKLIST_EXPR_MAX_PHRASES —
    pass 0 to force the broadcast semi-join path, as the oracle-checked
    ext_curation_gate_joinpath and the plan tests do). The repetition
    tier's top-bigram count is functions/text.top_run over the sorted
    ngrams(toks, 2), the helpers the stream gate
    (streaming/ingest_dedup.stream_curation_gate) calls too. See
    ext_curation_pipeline for the full gate inventory and the shuffle
    accounting."""
    from ..functions import text as TX
    from .blocklist import BLOCKLIST_EXPR_MAX_PHRASES, with_blocklist_reason
    from .repetition_signals import with_repetition_verdict

    lex = TX.CURATION_BLOCKLIST if lexicon is None else tuple(lexicon)
    cap = (
        BLOCKLIST_EXPR_MAX_PHRASES
        if blocklist_max_expr is None
        else blocklist_max_expr
    )
    # Blocklist tier FIRST, on the raw (doc_id, text) frame: when the
    # lexicon is over the expression cap this is a broadcast hash join
    # whose build side re-reads the pruned (doc_id, text) scan — built
    # BEFORE the Generate barriers below so the broadcast subtree never
    # re-evaluates them (a Generate's generator runs even when pruned).
    d0 = with_blocklist_reason(
        docs.select("doc_id", "text"), lex, max_expr_phrases=cap
    )
    # Generate barrier (explode of a 1-element struct array): the reason
    # expression consumes predicted_lang (15 marker counts) plus
    # quality_score (8 more) TWICE (reject_reason + keep), and after
    # CollapseProject inlines them the generated processNext() nears the
    # JVM 64KB method limit that silently drops a stage out of codegen.
    # Materializing (lang, q) once behind the barrier keeps the downstream
    # CASE tiny, the stage codegen'd, and the lexicon scans single-pass.
    t0 = TX.lang_quality_barrier(
        d0.select(
            "doc_id",
            "text",
            "blk_reason",
            tokens("text").alias("toks"),
        )
    ).select("doc_id", "text", "toks", "blk_reason", "lang", "q")
    # with_repetition_verdict adds its own barrier for the sorted gram
    # arrays and leaves one boolean attribute (rep_ok) for the reason
    # chain.
    t = with_repetition_verdict(t0)
    # Top-bigram stats map-side: n_bigrams is the bigram count and topc
    # the maximum multiplicity, TX.top_run's run over the SORTED bigram
    # array (the same helper the stream gate and ext_repetition_quality
    # call); the sorted array sits behind a Generate barrier so the fold
    # never re-evaluates it. Docs with no bigrams (short or NULL text)
    # carry NULL topc/n_bigrams, as the oracle's left join does.
    n = F.size("toks")
    tb = TX.generate_barrier(t, sbg=F.sort_array(TX.ngrams("toks", 2)))
    nbg = F.size("sbg")
    t = tb.withColumns(
        {
            "topc": F.when(nbg > 0, TX.top_run("sbg")["run"]).cast("long"),
            "n_bigrams": F.when(nbg > 0, nbg).cast("long"),
        }
    )
    ttr_ok = (
        F.size(F.array_distinct("toks")).cast("double") / n.cast("double")
        >= TX.CURATION_MIN_TTR
    ) & (
        F.col("topc").cast("double") / F.col("n_bigrams").cast("double")
        <= TX.CURATION_MAX_TOP_BIGRAM_SHARE
    )
    # shared FIXED gate order (functions/text.py) + the batch dup gate;
    # the Gopher battery (word length / symbols / bullet / ellipsis /
    # stop-word floor) is pure map-side expression work over (text, toks);
    # the blocklist tier is the pre-computed blk_reason attribute (the
    # path-switched builder above), not an inline expression
    scalar = TX.curation_scalar_reason(
        F.col("text"),
        n,
        F.col("lang"),
        F.col("q"),
        ttr_ok,
        TX.gopher_reason(F.col("text"), F.col("toks")),
        TX.curation_c4_reason(F.col("text")),
        F.col("blk_reason"),
        F.col("rep_ok"),
    )
    # Exact-dup gate fused into the main pass (optimization round 11,
    # guide §2.4): the former spelling RE-SCANNED the corpus for a
    # groupBy(text).agg(min(doc_id)) frame and joined it back on the
    # full text — two corpus scans and, past broadcast size, two
    # text-keyed exchanges. keep_id is a per-text-group fact, so one
    # window MIN over the already-computed frame replaces scan + agg +
    # join: census scans 2 -> 1, and the single exchange carries only
    # (doc_id, text, scalar) because every scalar gate is evaluated
    # map-side BEFORE the exchange. The xxhash64 prefix in the partition
    # key makes the window sort compare 8-byte hashes instead of full
    # texts (text itself stays in the key, so hash collisions still
    # split into exact text groups). NULL-text rows group together but
    # are excluded by the same isNotNull guard the old dup frame's
    # filter provided; min-over-group equals the old keep_id exactly.
    w_txt = Window.partitionBy(F.xxhash64("text"), "text")
    dup_hit = F.col("text").isNotNull() & (
        F.min("doc_id").over(w_txt) < F.col("doc_id")
    )
    td = t.select("doc_id", "text", scalar.alias("_scalar"))
    reason = (
        F.when(F.col("_scalar") != "ok", F.col("_scalar"))
        .when(dup_hit, F.lit("duplicate"))
        .otherwise(F.lit("ok"))
    )
    return td.select(
        "doc_id", reason.alias("reject_reason"), (reason == "ok").alias("keep")
    )


@register("ext_curation_pipeline", oracle=_curation_oracle(
    oracle_curation_blocklist_reason("t.text")
))
def ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation verdict — the composition a real
    training-data pipeline runs as ONE pass: minimum length, language
    gate (marker-lexicon langid == 'en'), heuristic quality floor, the
    FULL Gopher table-A1 battery (mean-word-length bounds,
    symbol-to-word ratio, bullet-start / ellipsis-end line shares,
    unique-stop-word floor — functions/text.gopher_reason), the C4 §2.2
    page battery (lorem-ipsum / curly-brace / retained-sentences floor —
    functions/text.c4_reason; the line-structural complement, round-8),
    Gopher repetition gates (type-token ratio + top-bigram share), the
    parameterized blocklist page gate (empty default; round-10: the
    path-switching builder queries/blocklist.with_blocklist_reason, so
    a production-sized lexicon automatically takes the broadcast
    semi-join — ext_curation_gate_joinpath is the oracle-checked
    composition on that path), the FULL 13-signal Gopher table-A1
    repetition verdict behind the paper's 50-token length precondition
    (queries/repetition_signals.with_repetition_verdict — round-9;
    floor round-10), and exact dedup (greedy min-id survivor), applied
    in a FIXED order so every document gets one deterministic
    reject_reason (or 'ok'). All gate expressions are the
    already-oracle-checked building blocks (ext_quality / ext_langid /
    ext_repetition_quality / ext_repetition_signals / ext_dedup_exact)
    fused into a single DataFrame pass: the scalar gates are map-side
    (the 13-signal verdict adds one more Generate barrier, still zero
    shuffle); the repetition stats add one doc_id-keyed aggregate and
    the dedup gate one text-keyed aggregate + broadcast-able joins — so
    the whole pipeline is ~3 shuffles regardless of corpus size, versus
    5 separate jobs when run piecemeal."""
    return curation_verdict(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )


def _joinpath_oracle() -> str:
    from .blocklist import DEMO_BLOCKLIST
    from ..functions.text import oracle_blocklist_reason

    return _curation_oracle(oracle_blocklist_reason("t.text", DEMO_BLOCKLIST))


@register("ext_curation_gate_joinpath", oracle=_joinpath_oracle())
def ext_curation_gate_joinpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation gate with the blocklist tier FORCED onto
    its scale path (round-10 verdict task #1): the same curation_verdict
    builder as ext_curation_pipeline, run with the 3-phrase demo lexicon
    and blocklist_max_expr=0 so the lexicon rides the broadcast
    semi-join (queries/blocklist.with_blocklist_reason's join path)
    INSIDE the full pipeline composition. The DuckDB oracle splices the
    expression path's truth (direct containment CASE) into the shared
    gate oracle, so the join-path composition is hash-checked against
    the independent formulation at every scale factor — the composed
    analogue of ext_blocklist_scale_join's pin. Plan pins (no corpus
    shuffle, lexicon + hit set on BroadcastExchange) live in
    tests/test_plans.py."""
    from .blocklist import DEMO_BLOCKLIST

    return curation_verdict(
        ensure_parallelism(load_table(spark, sf_dir, "documents")),
        lexicon=DEMO_BLOCKLIST,
        blocklist_max_expr=0,
    )


@register(
    "ext_c4_filters",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, coalesce(text, '') AS tx FROM documents
    )
    SELECT doc_id,
           CAST(len(string_split(tx, chr(10))) AS INT) AS n_lines,
           CAST(len({oracle_c4_kept_lines("tx")}) AS INT) AS n_kept_lines,
           {oracle_c4_sentence_count(oracle_c4_kept_lines("tx"))} AS n_sentences,
           {oracle_c4_reason("tx")} AS reject_reason,
           ({oracle_c4_reason("tx")}) = 'ok' AS keep,
           coalesce(
             array_to_string({oracle_c4_kept_lines("tx")}, chr(10)), ''
           ) AS clean_text
    FROM t
    """,
)
def ext_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 heuristic filter battery as a standalone per-document
    report (Raffel et al. 2020 §2.2 — functions/text.c4_reason): line
    retention accounting (terminal-punctuation ending, >= 5 words, no
    'javascript'), the retained-line sentence count, the page verdict
    through the fixed rule order (lorem-ipsum -> curly-brace ->
    <3-retained-sentences), and the C4-cleaned text (retained lines
    rejoined). The same rules also run inside ext_curation_pipeline and
    the streaming curation gate via the shared builder; this surface is
    the per-rule observability a pipeline operator tunes against.

    Scale: pure map-side string expressions over one documents scan —
    no shuffle, no UDF; at 100 TB the scan partitioning is the job
    partitioning (same class as ext_text_stats). NULL text is sized as
    the empty page ('' -> 0 retained lines -> too_few_sentences), so no
    output column is ever NULL."""
    from ..functions import text as TX

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    txt = F.coalesce(F.col("text"), F.lit(""))
    kept = TX.c4_kept_lines(txt)
    reason = TX.c4_reason(txt)
    return docs.select(
        "doc_id",
        F.size(F.split(txt, "\n")).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        TX.c4_sentence_count(kept).alias("n_sentences"),
        reason.alias("reject_reason"),
        (reason == "ok").alias("keep"),
        F.array_join(kept, "\n").alias("clean_text"),
    )
