"""Deduplication operators for LLM-training-data pipelines (SURVEY §2.K).

Four tiers, trading exactness against scale:

1. ``exact_dedup`` — hash group-by on the dedup key. One shuffle; at
   100 TB this is the always-correct baseline (pre-partition by a key
   prefix / bucket the table to make the shuffle map-side).
2. ``token_jaccard_pairs`` — exact set-similarity join within blocking
   keys. Quadratic *inside a block*; correct choice when a natural
   blocking key (source, language, shard) bounds block size.
3. ``minhash_lsh_pairs`` — MinHash signatures + banded LSH: candidate
   generation is linear in corpus size (explode bands -> equi-join on
   band hash), candidates verified with exact Jaccard. The 100 TB path:
   every stage is a plain shuffle-on-key, no pairwise blowup outside
   hash buckets.
4. ``simhash_near_dup_pairs`` — 64-bit SimHash with banded blocking +
   Hamming-distance verification (bit_count(xor) <= k). Cheapest
   signatures; near-dup semantics coarser than MinHash.

All pure DataFrame ops — signatures via xxhash64 (JVM), no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, token_hashes, token_set, tokens
from ..sources import ensure_parallelism


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one deterministic survivor (min id) per duplicate group —
    reproducible under any partitioning, unlike dropDuplicates."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def _set_jaccard_pairs(
    t: DataFrame, block_cols: tuple[str, ...], threshold: float
) -> DataFrame:
    """Exact set-Jaccard self-join of ``t`` = (doc_id, *block_cols, s)
    within blocks: pairs (doc_id_a < doc_id_b) with J(s_a, s_b) >=
    threshold. jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) — integer set
    sizes, one double division: bit-identical in any engine."""
    a, b = t.alias("a"), t.alias("b")
    cond = F.col(f"a.{block_cols[0]}") == F.col(f"b.{block_cols[0]}")
    for c in block_cols[1:]:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    # Complete size prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    # pairs whose set sizes already violate the threshold skip the
    # expensive intersection entirely. Joins on cheap int compares
    # BEFORE any array op runs.
    sza, szb = F.size(F.col("a.s")), F.size(F.col("b.s"))
    cond = cond & (
        F.least(sza, szb).cast("double")
        >= F.lit(threshold) * F.greatest(sza, szb).cast("double")
    )
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = sza + szb - inter
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def token_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("source", "lang"),
    threshold: float = 0.9,
) -> DataFrame:
    """Exact token-set Jaccard similarity join within blocks."""
    t = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), *block_cols, token_set(text_col).alias("s")
    )
    return _set_jaccard_pairs(t, block_cols, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    block_cols: tuple[str, ...] = ("source", "lang"),
    threshold: float = 0.8,
) -> DataFrame:
    """Exact word-n-gram-shingle Jaccard near-dup join within blocks.

    Shingles are order-sensitive where token sets are not: two documents
    with the same vocabulary but different word order share tokens, not
    n-grams — the standard sharpening for near-dup detection. Same
    blocked-join shape (and 100 TB posture) as token_jaccard_pairs."""
    t = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), *block_cols, shingles(tokens(text_col), n).alias("s")
    )
    return _set_jaccard_pairs(t, block_cols, threshold)


# Vocabulary cap for the bitset verify fast path. 4096 distinct tokens ->
# at most a 32768-bit / 512-long bitset (4 KB per doc) before giving up on
# finding an injective layout; real corpora with open vocabularies exceed
# the cap at the probe and use array_intersect.
_BITSET_VOCAB_CAP = 4096


# Probe results memoized per (applicationId, plan semantic hash): the
# vocabulary scan is a full corpus pass (~3.4s at sf0.1) and its result is
# a pure function of the input plan — repeated builds of the same dedup
# query (bench reps, pipeline composition) reuse it. Same staleness
# assumption as etl.star._STAR_CACHE: files under a path don't change
# within one session.
_PH_CACHE: dict[tuple[str, int], tuple[int, int] | None] = {}


def _perfect_hash_plan(docs: DataFrame, tok_hashes: Column) -> tuple[int, int] | None:
    """Probe the corpus vocabulary; if bounded, return (seed, nwords) such
    that ``pmod(xxhash64(h, seed), 64*nwords)`` is INJECTIVE on every
    distinct token hash — making a bitset-popcount intersection exact.

    One count-distinct-style job (map-side partial agg, <= cap rows to the
    driver); seed search is driver-side Python over the collected vocab.
    Returns None for open vocabularies (the 100 TB text case)."""
    from pyspark.sql import functions as SF

    try:
        key = (
            docs.sparkSession.sparkContext.applicationId,
            docs.select(tok_hashes.alias("_th")).semanticHash(),
        )
    except Exception:
        key = None
    if key is not None and key in _PH_CACHE:
        return _PH_CACHE[key]

    def _compute() -> tuple[int, int] | None:
        # One job: distinct vocab + the 16 candidate slot hashes, computed
        # BY SPARK (the same xxhash64 the executors will run — no driver-
        # side reimplementation to drift). Python then checks injectivity
        # of hash % nbits per (seed, nbits); power-of-2 nbits makes
        # Python's math-mod of the signed long agree with Spark's pmod.
        n_seeds = 16
        probe = (
            docs.select(SF.explode(tok_hashes).alias("h"))
            .distinct()
            .select(
                *[SF.xxhash64(SF.col("h"), SF.lit(s)).alias(f"s{s}") for s in range(n_seeds)]
            )
            .limit(_BITSET_VOCAB_CAP + 1)
            .collect()
        )
        if not probe or len(probe) > _BITSET_VOCAB_CAP:
            return None
        nbits = 64
        while nbits < 4 * len(probe):
            nbits *= 2
        while nbits <= 64 * 512:
            for seed in range(n_seeds):
                slots = {r[f"s{seed}"] % nbits for r in probe}
                if len(slots) == len(probe):
                    return seed, nbits // 64
            nbits *= 2
        return None

    result = _compute()
    if key is not None:
        _PH_CACHE[key] = result
    return result


def minhash_signature(text: Column, *, num_hashes: int) -> Column:
    """array<long> MinHash signature of the text's token set, built
    WITHOUT an explode+groupBy shuffle and with the token set evaluated
    ONCE: a single aggregate() walks the token-hash array carrying all
    num_hashes slot minima (acc[i] = min(acc[i], xxhash64(h, i))). One
    expression matters: higher-order functions are excluded from codegen
    subexpression elimination, so spelling this as num_hashes separate
    array_min(transform(...)) columns re-tokenizes the text num_hashes
    times after projection collapse (measured 30x: 3.9s -> 0.2s at
    sf0.1). Per-slot mixing is xxhash64(token_hash, slot) over
    PRE-HASHED tokens (the token array is hashed once to array<long>,
    then each slot mixes the long) — slots stay pairwise independent.
    NOTE: this differs from mixing the raw string per-slot
    (min(xxhash64(token, i))): per-slot minima and band collisions are
    different random draws, so any b/r tuning must be re-measured
    against exact ground truth when the mixing scheme changes — the
    recall figures in minhash_lsh_pairs' docstring were measured under
    the current scheme. An EMPTY token set leaves every slot at the
    max-long sentinel (callers drop those rows before banding).

    Shared by the in-query LSH join (minhash_lsh_pairs / survivors) and
    the persisted dedup index (operators/dedup_index.py), so the two
    paths cannot drift — the index-probe parity test depends on it."""
    _max_long = (1 << 63) - 1
    th = token_hashes(text)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        th,
        F.array_repeat(F.lit(_max_long).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(acc, seeds, lambda a, i: F.least(a, F.xxhash64(h, i))),
    )


def minhash_banded(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 30,
    bands: int = 5,
) -> DataFrame:
    """(doc_id, nt, band, bhash, prev0..prev{bands-2}): one row per doc
    per band — the LSH join/index representation. The explode(array(...))
    around the signature forms a Generate barrier CollapseProject cannot
    cross, so the signature array materializes once before band hashing;
    at 100 TB the whole frame is a pure map over the corpus. Every
    EARLIER band's hash rides along (a few longs) so a pair can be
    emitted at its FIRST colliding band only — exactly-once candidates
    with no distinct() shuffle. nt (token-set size) rides along so the
    size-ratio prune (J >= t forces |A|/|B| >= t) can run INSIDE the
    candidate join."""
    rows = num_hashes // bands
    _max_long = (1 << 63) - 1
    sig = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(token_set(text_col)).alias("nt"),
            F.explode(F.array(minhash_signature(F.col(text_col), num_hashes=num_hashes))).alias("mhs"),
        )
        # empty token set -> untouched init slots; drop (they would all
        # band-collide with each other on the sentinel minima)
        .where(F.element_at("mhs", 1) != F.lit(_max_long))
    )
    bhash = [
        F.xxhash64(
            F.lit(b), *[F.element_at("mhs", b * rows + r + 1) for r in range(rows)]
        ).alias(f"bh{b}")
        for b in range(bands)
    ]
    with_bands = sig.select("doc_id", "nt", *bhash)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"bh{b}").alias("bhash"),
                # pad with NULLs so every struct has the same shape
                *[
                    (F.col(f"bh{p}") if p < b else F.lit(None).cast("long")).alias(
                        f"prev{p}"
                    )
                    for p in range(bands - 1)
                ],
            )
            for b in range(bands)
        ]
    )
    return with_bands.select(
        "doc_id", "nt", F.explode(band_structs).alias("bb")
    ).select(
        "doc_id",
        "nt",
        F.col("bb.band").alias("band"),
        F.col("bb.bhash").alias("bhash"),
        *[F.col(f"bb.prev{p}").alias(f"prev{p}") for p in range(bands - 1)],
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 30,
    bands: int = 5,
    threshold: float = 0.9,
) -> DataFrame:
    """MinHash + banded LSH near-dup join, verified with exact Jaccard.

    Pipeline (each stage one narrow map or one shuffle-on-key):
      tokens -> explode -> per-doc min of xxhash64(token, seed_i)  [shuffle 1]
      signatures -> band hashes -> explode bands                   [narrow]
      self-equi-join on (band, band_hash), id< id                  [shuffle 2]
      distinct candidates -> size-ratio prune -> exact-Jaccard     [shuffle 3]

    Parameter choice is the scale lever: theoretical recall at J=theta
    is 1-(1-theta^rows)^bands. Defaults (5 bands x 6 rows) put recall at
    theta=0.9 at ~0.95 theoretical; MEASURED against the exact blockless
    Jaccard ground truth on the sf0.1 corpus (964,854 true pairs):
    recall 0.985, and ~40% FASTER end-to-end than the previous 3x10
    default (recall 0.886) — more bands means shorter band hashes but the
    size-ratio prune inside the candidate join keeps the extra collisions
    from reaching the verify, while the verify stage itself stops
    re-finding pairs the 10-row bands missed. 6x5 measures recall 0.999
    at ~1.2x the 5x6 cost if near-exact recall is required. Candidate
    volume on a LOW-base-similarity corpus (the realistic 100 TB case)
    is ~bands * J_base^rows of all pairs — at J_base=0.3, 5x6 collides
    on ~0.4% of pairs; still linear-ish and bounded by real collisions.

    At 100 TB nothing here is quadratic: candidate volume is bounded by
    real collisions, and each join is a plain hash shuffle AQE can skew-
    split. A size-ratio prune (|A|/|B| >= t is necessary for J >= t)
    drops candidates before the array-intersect verify. Rows-only
    correctness check (hash seeds are engine-specific).
    """
    docs = ensure_parallelism(docs)
    banded = minhash_banded(
        docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes, bands=bands
    )
    first_band_only = F.lit(True)
    for p in range(bands - 1):
        first_band_only = first_band_only & (
            (F.col("a.band") <= F.lit(p)) | (F.col(f"a.prev{p}") != F.col(f"b.prev{p}"))
        )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size-ratio prune inside the join: J(A,B) <= min/max, so pairs
            # whose set sizes already violate the threshold never leave the
            # join — cheaper than pruning after the candidate rows exist
            & (
                F.least(F.col("a.nt"), F.col("b.nt")).cast("double")
                >= F.lit(threshold) * F.greatest(F.col("a.nt"), F.col("b.nt")).cast("double")
            )
            & first_band_only,
        )
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
    )
    # Verify on token-HASH sets (array<long>): same set cardinalities as
    # the string sets (xxhash64 collisions negligible), but long compares
    # instead of string compares in the hot intersect. Sizes ride along
    # so the ratio prune (min/max >= t is necessary for J >= t) fires
    # before the intersect; `inter` is materialized as a column once
    # instead of re-evaluating the intersect inside the jaccard
    # expression. The intersect itself is ADAPTIVE (exact either way):
    # _perfect_hash_plan probes the corpus vocabulary with one distinct-
    # count job; when it is bounded (categorical sets, tags, ID sets, or
    # pathological template corpora like this fixture) every token set is
    # dictionary-encoded into an M-bit bitset via a driver-verified
    # injective hash, and |A inter B| = sum popcount(fa & fb) — a few
    # AND+popcount ops per pair instead of array_intersect's per-pair
    # boxed hash set (measured 60us/pair; the bitset path is ~50x
    # cheaper on the verify stage). Open text vocabularies take the
    # array_intersect fallback — that is the expected 100 TB path, and
    # the probe costs one map-side-combined count-distinct scan.
    tok_hashes = F.array_distinct(token_hashes(text_col))
    ph = _perfect_hash_plan(docs, tok_hashes)
    if ph is not None:
        seed, nwords = ph
        widx = F.sequence(F.lit(0), F.lit(nwords - 1))
        # 1 << i as a literal lookup table (F.shiftleft takes only a
        # Python-int shift); bit 63 is the sign bit in two's complement.
        pow2 = F.array(
            *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(64)]
        )

        def bitset(toks: Column) -> Column:
            # acc[w] |= 1 << (slot % 64) for w == slot // 64, slot =
            # pmod(xxhash64(h, seed), 64 * nwords) — injective on the
            # probed vocabulary, so popcount is an EXACT set size.
            def set_bit(acc: Column, h: Column) -> Column:
                slot = F.pmod(F.xxhash64(h, F.lit(seed)), F.lit(64 * nwords))
                bit = F.element_at(pow2, F.pmod(slot, F.lit(64)).cast("int") + F.lit(1))
                return F.zip_with(
                    acc,
                    widx,
                    lambda a, w: a.bitwiseOR(
                        F.when(F.floor(slot / 64) == w, bit).otherwise(F.lit(0).cast("long"))
                    ),
                )

            return F.aggregate(
                toks, F.array_repeat(F.lit(0).cast("long"), nwords), set_bit
            )

        tsets = docs.select(
            F.col(id_col).alias("doc_id"),
            bitset(tok_hashes).alias("toks"),
            F.size(tok_hashes).alias("nt"),
        )
        inter_expr = F.aggregate(
            F.zip_with("ta", "tb", lambda x, y: F.bit_count(x.bitwiseAND(y))),
            F.lit(0),
            lambda acc, c: acc + c,
        )
    else:
        tsets = docs.select(
            F.col(id_col).alias("doc_id"), tok_hashes.alias("toks")
        ).withColumn("nt", F.size("toks"))
        inter_expr = F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(
            tsets.select(
                F.col("doc_id").alias("doc_id_a"), F.col("toks").alias("ta"), F.col("nt").alias("na")
            ),
            "doc_id_a",
        )
        .join(
            tsets.select(
                F.col("doc_id").alias("doc_id_b"), F.col("toks").alias("tb"), F.col("nt").alias("nb")
            ),
            "doc_id_b",
        )
        .where(
            F.least("na", "nb").cast("double") / F.greatest("na", "nb").cast("double")
            >= F.lit(threshold)
        )
        # Generate barrier (explode of a 1-element array) so CollapseProject
        # cannot inline inter_expr into its consumers: jaccard uses `inter`
        # twice and the final filter re-derives it, and HOF/array exprs are
        # excluded from codegen subexpression elimination — the collapsed
        # plan evaluated the intersect ~4x per candidate (16x corpus: the
        # verify stage measured 142s vs the 26s the microbenched per-pair
        # cost predicts; the barrier restores the one-evaluation cost).
        .withColumn("inter", F.explode(F.array(inter_expr)))
        .select(
            "doc_id_a",
            "doc_id_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_bits(text: Column, *, nbits: int = 64) -> Column:
    """64-bit SimHash of the token set: bit j of the signature is the sign
    of sum over tokens of (+1 if bit j of xxhash64(token) else -1)."""
    hashes = token_hashes(text)
    # bit masks as signed-64 literals (bit 63 is the sign bit in two's complement)
    masks = [(1 << j) if j < 63 else -(1 << 63) for j in range(nbits)]
    def _merge_for(m: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(m).cast("long")) != 0, 1
        ).otherwise(-1)

    bit_sums = [F.aggregate(hashes, F.lit(0), _merge_for(masks[j])) for j in range(nbits)]
    sig = F.lit(0).cast("long")
    for j, s in enumerate(bit_sums):
        sig = sig + F.when(s > 0, F.lit(masks[j]).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def _simhash_banded(docs: DataFrame, id_col: str, text_col: str, bands: int) -> DataFrame:
    """(doc_id, sig, band, bval): one row per doc per 64/bands-bit
    signature band — the SimHash blocking representation."""
    sig = docs.select(
        F.col(id_col).alias("doc_id"), simhash_bits(F.col(text_col)).alias("sig")
    )
    width = 64 // bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), b * width).bitwiseAND(F.lit(mask)).alias("bval"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", "sig", F.explode(band_arr).alias("bb")).select(
        "doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval")
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup: block on exact match of one of 4 16-bit bands
    (any pair within Hamming<=3 of the 64-bit sig must agree on >=1 band;
    wider max_hamming trades recall), verify bit_count(xor) <= k."""
    docs = ensure_parallelism(docs)
    banded = _simhash_banded(docs, id_col, text_col, bands)
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def connected_components(
    pairs: DataFrame,
    col_a: str = "doc_id_a",
    col_b: str = "doc_id_b",
    *,
    max_iters: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a near-dup
    pair graph, cluster_id = min reachable id (deterministic).

    Pair generation (exact/Jaccard/MinHash/SimHash) finds EDGES; keeping
    one survivor per transitive duplicate *cluster* needs components —
    A~B, B~C must collapse to one cluster even though A~C was never
    emitted. Algorithm: neighbor-min label propagation PLUS pointer
    doubling — each round every node takes the min of (its label, its
    neighbors' labels, ITS LABEL'S label). The jump step L(L(v)) is the
    classic path-halving trick: the distance a min label travels doubles
    per round, so convergence is O(log n) even on an adversarial
    duplicate CHAIN (pure neighbor propagation is O(diameter) and a
    500-link chain would blow any sane round cap — pinned by test).
    Every round is two shuffle-on-key joins + a groupBy (nothing
    quadratic; the jump join is labels⋈labels, the same table), and
    lineage is cut per round with localCheckpoint so the plan doesn't
    grow unboundedly. Invariant kept by both steps: L(v) is always the
    id of a node in v's own component, so the fixpoint is the component
    minimum.

    Returns (doc_id, cluster_id) for every node that appears in a pair.
    """
    fwd = pairs.select(F.col(col_a).alias("src"), F.col(col_b).alias("dst"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        tentative = labels.join(nbr_min, labels["node"] == nbr_min["src"], "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer doubling: follow the label one hop (L(L(v))). The
        # parent's label is itself >= the component min and belongs to
        # the same component, so taking the min is safe — and halves the
        # remaining path length every round.
        parent = tentative.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            tentative.join(parent, tentative["label"] == parent["p_node"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("p_label", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iters} rounds")
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def minhash_lsh_survivors(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 30,
    bands: int = 5,
    threshold: float = 0.9,
) -> DataFrame:
    """Output-bounded MinHash dedup decision: pruned(d) = EXISTS a
    lower-id banded-collision partner with verified Jaccard >= t.

    Why a separate tier (mirrors semantic_survivor_prune): the pairs op
    must EMIT every verified pair, so a duplicate-saturated corpus makes
    it output-bound — C(n,2) pairs for an n-way duplicate group no
    matter how good the banding is. A consumer that only keeps/drops
    documents needs one bit per doc: this spelling probes each doc's
    band buckets with a LEFT SEMI join whose residual carries the FULL
    verify (id order, size-ratio prune, exact token-set Jaccard), so
    Spark stops scanning a bucket at the doc's first confirmed
    duplicate — on a saturated corpus that is almost immediately, and
    wall tracks N (pinned by tests/test_dedup_recall.py). Bands and
    signatures are identical to minhash_lsh_pairs (same hash mixing, so
    the decision sets agree — also pinned); no first-band dedup is
    needed because EXISTS is idempotent across a pair's bands. Cost
    note: token-hash arrays ride the banded shuffle (bands x corpus),
    the price of verifying inside the join; rows-only correctness
    (hash-seeded).

    ORDERED MERGE-SEMI probe (optimization round 11; replaces round
    10's two-phase probe). The scale hazard both rounds target: the
    semi join's "stop at the first confirmed duplicate" story is only
    linear if a probe row MEETS a verifying lower-id partner early.
    With a shuffled-HASH build the bucket's entries are scanned in
    hash-chain order (Spark prepends — effectively reverse insertion
    order), so on a duplicate-saturated bucket a probe can scan
    O(bucket) higher-id entries first: measured quadratic in round 10
    (3000/6000/12000/24000 docs: 1.08/1.26/2.48/7.46s). Round 10 fixed
    that with a representative phase 1 + EXISTS phase 2 — correct, but
    it cost TWO extra signature passes and two token-array exchanges
    on every corpus (+0.6-0.9s on the sf0.1 bench row).

    This round keeps the single EXISTS join and fixes the SCAN ORDER
    instead: the build side is explicitly repartitioned on the join
    key and sorted (band, bhash, doc_id) within partitions, and the
    join is pinned to SORT-MERGE. The merge scans each key group in
    that sort order — ascending doc_id — and LeftSemi emits on the
    first row satisfying the residual verify, so every probe in a
    saturated bucket confirms against the bucket's minimum-id member
    in O(1) buffered rows BY CONSTRUCTION (the sort is part of the
    plan, not hash luck; the build-side ordering satisfies the SMJ's
    required (band, bhash) prefix, so no second sort is inserted).
    Same guarantee round 10's phase 1 gave, strictly stronger settling
    (first verifying partner in id order, not only the min-id
    representative), at the r9 cost shape: 2 signature passes, 2
    exchanges, no census/anti-join machinery. A bucket whose members
    collide in every band yet never verify still scans the full group
    — true of the two-phase spelling and of any exact-verify LSH.
    Decision set unchanged: the join computes the identical EXISTS."""
    docs = ensure_parallelism(docs)
    rows = num_hashes // bands
    _max_long = (1 << 63) - 1
    sig_arr = minhash_signature(F.col(text_col), num_hashes=num_hashes)
    tok_hashes = F.array_distinct(token_hashes(text_col))
    sig = docs.select(
        F.col(id_col).alias("doc_id"),
        tok_hashes.alias("toks"),
        F.size(tok_hashes).alias("nt"),
        F.explode(F.array(sig_arr)).alias("mhs"),
    ).where(F.element_at("mhs", 1) != F.lit(_max_long))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b), *[F.element_at("mhs", b * rows + r + 1) for r in range(rows)]
                ).alias("bhash"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(
        "doc_id", "toks", "nt", F.explode(band_structs).alias("bb")
    ).select("doc_id", "toks", "nt", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    jac = inter.cast("double") / (F.col("a.nt") + F.col("b.nt") - inter).cast("double")
    verify = (
        (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.least(F.col("a.nt"), F.col("b.nt")).cast("double")
            >= F.lit(threshold) * F.greatest(F.col("a.nt"), F.col("b.nt")).cast("double")
        )
        & (jac >= F.lit(threshold))
    )
    # Build side carries a bucket-local row_number ordered by doc_id.
    # The rank value itself is inert (see the verify conjunct below) —
    # what matters is the WindowExec it forces: its required sort is
    # (band, bhash, doc_id), the window preserves that ordering and the
    # hash(band, bhash) partitioning, and the SMJ's required (band,
    # bhash) ordering is a satisfied PREFIX, so no re-sort is inserted
    # and every merge group is scanned ascending by doc_id. (A plain
    # sortWithinPartitions is NOT enough: Catalyst's EliminateSorts
    # removes explicit sorts under order-agnostic operators like joins
    # — verified on the actual plan — while a window's sort is
    # load-bearing and survives.) The merge hint pins SORT-MERGE: a
    # broadcast or shuffled-hash build would scan buckets in hash-chain
    # order again.
    wb = Window.partitionBy("band", "bhash").orderBy("doc_id")
    build = banded.withColumn("_rk", F.row_number().over(wb)).hint("merge").alias("a")
    pruned = (
        banded.alias("b")
        .join(
            build,
            (F.col("b.band") == F.col("a.band"))
            & (F.col("b.bhash") == F.col("a.bhash"))
            # inert conjunct: keeps _rk (and with it the ordering
            # window) alive through column pruning; always true, so the
            # EXISTS decision set is untouched
            & (F.col("a._rk") >= 1)
            & verify,
            "left_semi",
        )
        .select(F.col("doc_id").alias("pid"))
        .distinct()
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(pruned, base["doc_id"] == F.col("pid"), "left").select(
        "doc_id", F.col("pid").isNotNull().alias("pruned")
    )


def simhash_survivors(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    bands: int = 4,
) -> DataFrame:
    """Output-bounded SimHash dedup decision — completes the survivors
    trio (minhash_lsh_survivors / semantic_survivor_prune): pruned(d) =
    EXISTS a lower-id doc sharing a signature band with Hamming <=
    ``max_hamming``. Same banding as simhash_near_dup_pairs; the LEFT
    SEMI probe stops at each doc's first qualifying lower-id partner, so
    a duplicate-saturated corpus costs O(bucket scan to first hit), not
    O(pairs), and no first-band dedup or distinct() is needed (EXISTS is
    idempotent across bands)."""
    docs = ensure_parallelism(docs)
    banded = _simhash_banded(docs, id_col, text_col, bands)
    pruned = (
        banded.alias("b")
        .join(
            banded.alias("a"),
            (F.col("b.band") == F.col("a.band"))
            & (F.col("b.bval") == F.col("a.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
                <= F.lit(max_hamming)
            ),
            "left_semi",
        )
        .select(F.col("doc_id").alias("pid"))
        .distinct()
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(pruned, base["doc_id"] == F.col("pid"), "left").select(
        "doc_id", F.col("pid").isNotNull().alias("pruned")
    )


def _shingle_key(shingle: Column) -> list[Column]:
    """The 128-bit identity of a token-array shingle: two xxhash64 chains
    over the array that start from different states — ``h1`` from the
    default seed, ``h2`` after first absorbing the literal 1. Neither is a
    function of the other, so under the usual model of xxhash64 as a
    random function per start state, two DIFFERENT shingles share the
    pair with probability ~2^-128; over S shingle occurrences the union
    bound on ANY such collision is ~S^2 / 2^129 (< 1e-14 at S = 10^12).
    (Seeding ``h2`` with ``h1`` instead — ``xxhash64(shingle, 1)`` —
    makes the pair collide whenever ``h1`` does: a 64-bit key.) Hashing
    the ARRAY, not a joined string, keeps token boundaries significant:
    ["a b", "c"] and ["a", "b c"] hash as different chains. The DuckDB
    oracle groups on the shingle strings, so a collision on the test
    data would fail the oracle check."""
    return [F.xxhash64(shingle).alias("h1"), F.xxhash64(F.lit(1), shingle).alias("h2")]


def exact_substring_dedup(
    docs: DataFrame,
    *,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos_radix: int = 1_000_000,
) -> DataFrame:
    """Tier 5: EXACT-SUBSTRING dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    variant): remove every duplicated run of >= ``k`` tokens from the
    corpus, keeping the FIRST occurrence (global (doc_id, position)
    order), and reassemble each document's surviving tokens. Unlike the
    pair-reporting tiers above, this edits the documents themselves —
    the form LLM training pipelines apply it in (the duplicated SPAN is
    what gets memorized, not the document).

    Semantics (exact, oracle-checkable):
    - every k-token shingle occurrence (doc, pos) is keyed by its
      space-joined token string;
    - a shingle occurring more than once globally marks every
      occurrence EXCEPT the global minimum (doc_id, pos) as duplicated;
    - a token position is removed iff covered by >= 1 duplicated
      occurrence — overlapping duplicated shingles union into maximal
      removed runs (the "run stitching"): a pasted passage of length
      L >= k yields L-k+1 duplicated shingles whose coverage is exactly
      the passage;
    - survivors reassemble in original order, space-joined.

    Scale shape (nothing quadratic anywhere):
    - the shingle explode is ~tokens-per-doc rows (linear in corpus
      tokens; at 100 TB you'd key by xxhash64(shingle) to shrink the
      shuffle — kept as the string here so the DuckDB oracle is exact);
    - duplicate detection is ONE groupBy(shingle) with map-side
      combine; the join back is an equi-join against only the
      duplicated keys (candidates bounded by evidence, like the LSH
      band join — never all pairs, never a cross product);
    - first-occurrence survivorship is an integer MIN aggregate:
      doc_id * pos_radix + pos encodes the lexicographic (doc_id, pos)
      order while every shingle position stays below ``pos_radix``
      (default 1M tokens/doc). The bound is ENFORCED, not assumed — a
      document whose shingle positions reach the radix raises
      USER_RAISED_EXCEPTION from inside the encoding expression (zero
      extra jobs; the guard rides the expressions that consume the
      encoding), because a silent radix overflow would bleed pos into
      the doc_id digits and elect a non-first survivor. Callers with
      >1M-token whales raise ``pos_radix`` (doc_id must stay below
      2^63 / pos_radix);
    - span removal explodes k rows per DUPLICATED occurrence only;
      reassembly is map-side and LINEAR per document: the sorted
      removed-position set is folded into maximal removed runs with
      pairwise array ops, and the survivors are rebuilt by slicing the
      complement intervals out of the token array — never a per-token
      membership probe of the removal set (which is O(tokens x removed)
      and approaches quadratic on a mostly-duplicated whale; see
      tests/test_skew_torture.py's whale-reassembly pin).

    Relation to the other tiers: ext_dedup_winnowing samples this
    signal (fingerprints) to find document PAIRS; decontamination uses
    8-token shingle hits as a gate. This tier removes the duplicated
    span itself, exactly. Reference kin: dedup-on-load (etl:69-77)
    dedups whole rows; this is its intra-document, token-level big
    sibling."""
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    t = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), toks.alias("toks")
    )
    # Shingle identity is the hash pair (h1, h2) of _shingle_key: the
    # k-token shingle is never materialized as a string, and the shuffled
    # key is 16 bytes regardless of k.
    occ = t.where(F.size("toks") >= k).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (k - 1))).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "pos",
        *_shingle_key(F.slice(F.col("toks"), F.col("pos"), k)),
    )
    # radix-encoded (doc_id, pos) order, guarded: evaluating the
    # encoding for an out-of-radix position is a LOUD runtime error, not
    # a silent wrong survivor. The when/otherwise folds the check into
    # every expression that consumes the encoding, so no separate
    # max(size) job is spent on it.
    enc = F.when(
        F.col("pos") < pos_radix,
        F.col("doc_id") * F.lit(pos_radix) + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "exact_substring_dedup: shingle position %s in doc %s "
                f"exceeds pos_radix={pos_radix}; raise pos_radix above "
                "the longest document's token count",
                F.col("pos"),
                F.col("doc_id"),
            )
        ).cast("long")
    )
    dup_keys = (
        occ.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("c"), F.min(enc).alias("first_enc"))
        .where(F.col("c") > 1)
        .select("h1", "h2", "first_enc")
    )
    removed = (
        occ.join(dup_keys, ["h1", "h2"])
        .where(enc != F.col("first_enc"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("tpos"),
        )
    )
    # collect_set IS the dedup of overlapping spans' positions — no
    # separate distinct() shuffle before it
    rm = removed.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("tpos")).alias("rm")
    )
    # LINEAR reassembly (whale-safe): fold the sorted removed positions
    # into maximal removed runs via pairwise array ops, complement them
    # into kept intervals, and slice the survivors out of the token
    # array. Every step is O(tokens + removed) per document — a per-token
    # array_contains probe of the removal set is O(tokens x removed) and
    # approaches quadratic on a mostly-duplicated whale document.
    rmc = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    n = F.size("toks")
    m = F.size(rmc)
    pair_len = F.greatest(m - 1, F.lit(0))
    head = F.slice(rmc, 1, pair_len)  # rm[0..m-2]
    tail = F.slice(rmc, 2, pair_len)  # rm[1..m-1]
    # a removed run starts at rm[0] and wherever the sorted sequence
    # jumps by more than 1; it ends just before each jump and at rm[m-1]
    run_starts = F.concat(
        F.slice(rmc, 1, 1),
        F.filter(
            F.zip_with(tail, head, lambda c, p: F.when(c != p + 1, c)),
            lambda x: x.isNotNull(),
        ),
    )
    run_ends = F.concat(
        F.filter(
            F.zip_with(head, tail, lambda p, c: F.when(c != p + 1, p)),
            lambda x: x.isNotNull(),
        ),
        F.slice(rmc, F.greatest(m, F.lit(1)), 1),
    )
    # kept intervals = the complement of the removed runs inside [1, n];
    # edge intervals collapse to length 0 (never negative) when a run
    # touches a document boundary, so every slice below is well-formed
    kept_starts = F.concat(
        F.array(F.lit(1)), F.transform(run_ends, lambda e: e + 1)
    )
    kept_ends = F.concat(
        F.transform(run_starts, lambda s: s - 1), F.array(n)
    )
    kept = F.flatten(
        F.zip_with(
            kept_starts,
            kept_ends,
            lambda s, e: F.slice(
                F.col("toks"), s, F.greatest(e - s + 1, F.lit(0))
            ),
        )
    )
    return t.join(rm, "doc_id", "left").select(
        "doc_id",
        n.alias("n_tokens"),
        m.alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )
