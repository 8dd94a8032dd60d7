"""Deduplication operators for LLM-training-data pipelines (SURVEY §2.K).

Tiers, trading exactness against scale:

1. ``exact_dedup`` — hash group-by on the dedup key. One shuffle; at
   100 TB this is the always-correct baseline (pre-partition by a key
   prefix / bucket the table to make the shuffle map-side).
2. ``token_jaccard_pairs`` / ``ngram_jaccard_pairs`` — exact
   set-similarity join within blocking keys. Quadratic *inside a
   block*; correct choice when a natural blocking key (source,
   language, shard) bounds block size.
3. ``minhash_lsh_pairs`` — MinHash signatures + banded LSH: candidate
   generation is linear in corpus size (explode bands -> equi-join on
   band hash), candidates verified with exact Jaccard. The 100 TB path:
   every stage is a plain shuffle-on-key, no pairwise blowup outside
   hash buckets. ``minhash_lsh_survivors`` is its keep/drop form, and
   operators/dedup_index.py persists its bands for ingest-time probes.
4. ``simhash_near_dup_pairs`` — 64-bit SimHash with banded blocking +
   Hamming-distance verification (bit_count(xor) <= k). Cheapest
   signatures; near-dup semantics coarser than MinHash.
   ``simhash_survivors`` is its keep/drop form.
5. ``exact_substring_dedup`` — removes duplicated token spans from the
   documents themselves.

Every banded op (MinHash pairs and survivors, the persisted index, its
probe and its stream writer, SimHash pairs and survivors, and the pHash
near-dup query) is built from the banded-LSH core below, which spells
each decision once: the distinct token-hash set ``th`` and ``nt =
size(th)`` (_token_hash_sets), the signature frame (_signatures), the
band rows (_band_rows), the band equi-join (_same_bucket), the
first-colliding-band gate (_first_band_gate), the size-ratio prune
(_size_ratio_ok) and the exact Jaccard verify (_jaccard,
_jaccard_verify).

All pure DataFrame ops — signatures via xxhash64 (JVM), no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    adjacent_pairs,
    generate_barrier,
    shingles,
    token_hashes,
    token_set,
    tokens,
)
from ..sources import ensure_parallelism


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one deterministic survivor (min id) per duplicate group —
    reproducible under any partitioning, unlike dropDuplicates."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def _size_ratio_ok(na: Column, nb: Column, threshold: float) -> Column:
    """The size-ratio prune: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so a
    pair whose set sizes already violate the threshold cannot verify.
    Integer compares only, so joins run it BEFORE any array op."""
    return F.least(na, nb).cast("double") >= F.lit(threshold) * F.greatest(na, nb).cast("double")


def _jaccard(inter: Column, na: Column, nb: Column) -> Column:
    """|A ∩ B| / (|A| + |B| - |A ∩ B|) from integer set sizes — one
    double division, bit-identical in any engine."""
    return inter.cast("double") / (na + nb - inter).cast("double")


def _set_jaccard_pairs(
    t: DataFrame, block_cols: tuple[str, ...], threshold: float
) -> DataFrame:
    """Exact set-Jaccard self-join of ``t`` = (doc_id, *block_cols, s)
    within blocks: pairs (doc_id_a < doc_id_b) with J(s_a, s_b) >=
    threshold."""
    a, b = t.alias("a"), t.alias("b")
    cond = F.col(f"a.{block_cols[0]}") == F.col(f"b.{block_cols[0]}")
    for c in block_cols[1:]:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    sza, szb = F.size(F.col("a.s")), F.size(F.col("b.s"))
    cond = cond & _size_ratio_ok(sza, szb, threshold)
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            _jaccard(inter, sza, szb).alias("jaccard"),
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


# ---------------------------------------------------------------------------
# Banded-LSH core
# ---------------------------------------------------------------------------

_MAX_LONG = (1 << 63) - 1

# Vocabulary cap for the bitset verify fast path. 4096 distinct tokens ->
# at most a 32768-bit / 512-long bitset (4 KB per doc) before giving up on
# finding an injective layout; real corpora with open vocabularies exceed
# the cap at the probe and use array_intersect.
_BITSET_VOCAB_CAP = 4096


# Probe results memoized per (applicationId, plan semantic hash): the
# vocabulary scan is a full corpus pass and its result is a pure function
# of the input plan — repeated builds of the same dedup query (bench
# reps, pipeline composition) reuse it. Same staleness assumption as
# etl.star._STAR_CACHE: files under a path don't change within one
# session.
_PH_CACHE: dict[tuple[str, int], tuple[int, int] | None] = {}


def _th(text: Column | str) -> Column:
    """The distinct token-hash set of ``text``."""
    return F.array_distinct(token_hashes(text))


def _token_hash_sets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, th, nt): each doc's distinct token-hash set ``th`` and
    its size ``nt``. Every MinHash op signs, prunes and verifies on
    ``th``, so the signature, the size-ratio prune and the Jaccard verify
    all see one set. Hashes keep the token sets' cardinalities up to
    xxhash64 collisions, and the verify intersect compares longs instead
    of strings."""
    return docs.select(
        F.col(id_col).alias("doc_id"), _th(text_col).alias("th")
    ).withColumn("nt", F.size("th"))


def _perfect_hash_plan(tsets: DataFrame) -> tuple[int, int] | None:
    """Probe the vocabulary of the ``th`` column of ``tsets``; if
    bounded, return (seed, nwords) such that ``pmod(xxhash64(h, seed),
    64*nwords)`` is INJECTIVE on every distinct token hash — making a
    bitset-popcount intersection exact.

    One count-distinct-style job (map-side partial agg, <= cap rows to the
    driver); seed search is driver-side Python over the collected vocab.
    Returns None for open vocabularies (the 100 TB text case)."""
    from pyspark.sql import functions as SF

    try:
        key = (
            tsets.sparkSession.sparkContext.applicationId,
            tsets.select("th").semanticHash(),
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
            tsets.select(SF.explode("th").alias("h"))
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


def _minhash_slots(th: Column, num_hashes: int) -> Column:
    """array<long> MinHash signature of a token-hash set, built WITHOUT
    an explode+groupBy shuffle: a single aggregate() walks the set
    carrying all num_hashes slot minima (acc[i] = min(acc[i],
    xxhash64(h, i))). One expression matters: higher-order functions are
    excluded from codegen subexpression elimination, so spelling this as
    num_hashes separate array_min(transform(...)) columns re-evaluates
    the set num_hashes times after projection collapse. Per-slot mixing
    is xxhash64(token_hash, slot) over PRE-HASHED tokens — slots stay
    pairwise independent. NOTE: this differs from mixing the raw string
    per-slot (min(xxhash64(token, i))): per-slot minima and band
    collisions are different random draws, so any b/r tuning must be
    re-measured against exact ground truth (tests/test_dedup_recall.py)
    when the mixing scheme changes. An EMPTY set leaves every slot at
    the max-long sentinel."""
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        th,
        F.array_repeat(F.lit(_MAX_LONG).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(acc, seeds, lambda a, i: F.least(a, F.xxhash64(h, i))),
    )


def _signatures(docs: DataFrame, id_col: str, text_col: str, num_hashes: int) -> DataFrame:
    """(doc_id, th, nt, mhs) for every doc with a non-empty token set:
    ``mhs`` is the MinHash signature of ``th``, materialized once behind
    a Generate barrier so band hashing reads its slots without re-running
    the fold. An empty ``th`` leaves every slot at the sentinel; those
    docs are dropped (they would all band-collide with each other on the
    sentinel minima)."""
    sig = generate_barrier(
        _token_hash_sets(docs, id_col, text_col), mhs=_minhash_slots(F.col("th"), num_hashes)
    )
    return sig.where(F.element_at("mhs", 1) != F.lit(_MAX_LONG))


def _minhash_bands(num_hashes: int, bands: int) -> list[Column]:
    """The band hashes of a signature column ``mhs``: band b hashes its
    num_hashes // bands consecutive slots, seeded with b."""
    rows = num_hashes // bands
    return [
        F.xxhash64(F.lit(b), *[F.element_at("mhs", b * rows + r + 1) for r in range(rows)])
        for b in range(bands)
    ]


def _band_rows(df: DataFrame, cols: list[str], bhashes: list[Column]) -> DataFrame:
    """(*cols, band, bhash, prev0..prev{B-2}): one row per input row per
    band, B = len(bhashes). Every EARLIER band's hash rides along (NULL
    from the row's own band on), so a pair can be emitted at its first
    colliding band only (_first_band_gate) — exactly-once candidates
    with no distinct() shuffle. The survivors ops, whose EXISTS is
    idempotent across bands, leave them unused."""
    n = len(bhashes)
    with_bh = df.select(*cols, *[h.alias(f"bh{b}") for b, h in enumerate(bhashes)])
    structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"bh{b}").alias("bhash"),
                # pad with NULLs so every struct has the same shape
                *[
                    (F.col(f"bh{p}") if p < b else F.lit(None).cast("long")).alias(f"prev{p}")
                    for p in range(n - 1)
                ],
            )
            for b in range(n)
        ]
    )
    return with_bh.select(*cols, F.explode(structs).alias("bb")).select(*cols, "bb.*")


def _same_bucket() -> Column:
    """Band equi-join of band rows aliased ``a`` and ``b``."""
    return (F.col("a.band") == F.col("b.band")) & (F.col("a.bhash") == F.col("b.bhash"))


def _first_band_gate(bands: int) -> Column:
    """Exactly-once condition on a band join of aliases ``a`` and ``b``:
    a pair is kept only at the lowest band where it collides, i.e. every
    earlier band's hash differs."""
    gate = F.lit(True)
    for p in range(bands - 1):
        gate = gate & (
            (F.col("a.band") <= F.lit(p)) | (F.col(f"a.prev{p}") != F.col(f"b.prev{p}"))
        )
    return gate


def _jaccard_verify(
    cand: DataFrame, ids: tuple[str, str], inter: Column, na: Column, nb: Column, threshold: float
) -> DataFrame:
    """(*ids, jaccard) for the candidate rows whose exact Jaccard, from
    the intersection size ``inter`` and set sizes ``na``/``nb``, is >=
    threshold. ``inter`` crosses a Generate barrier: jaccard uses it
    twice and the filter re-derives it, and HOF/array expressions are
    excluded from codegen subexpression elimination, so CollapseProject
    would otherwise inline the intersect into every consumer."""
    return (
        generate_barrier(cand, inter=inter)
        .select(*ids, _jaccard(F.col("inter"), na, nb).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
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
    per band — the LSH join and index representation (_band_rows over
    the signature's band hashes); at 100 TB a pure map over the corpus.
    nt rides along so the size-ratio prune can run INSIDE the candidate
    join."""
    return _band_rows(
        _signatures(docs, id_col, text_col, num_hashes),
        ["doc_id", "nt"],
        _minhash_bands(num_hashes, bands),
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

    Pipeline (each stage one narrow map or one join on a key; AQE
    broadcasts the small sides):
      token-hash set -> signature (one aggregate fold per doc)     [narrow]
      band hashes -> explode bands                                 [narrow]
      self-equi-join on (band, bhash), id < id, size-ratio prune,
        first-colliding-band gate                                  [join]
      join both sides' token-hash sets on doc_id -> exact Jaccard  [2 joins]
    No signature groupBy and no distinct(): the signature is a per-doc
    fold and each pair leaves the band join once.

    Parameter choice is the scale lever: theoretical recall at J=theta
    is 1-(1-theta^rows)^bands. Defaults (5 bands x 6 rows) put recall at
    theta=0.9 at ~0.95 theoretical; recall against the exact blockless
    Jaccard ground truth is pinned >= 0.95 on the sf0.001 corpus by
    tests/test_dedup_recall.py. More bands mean shorter band hashes and
    more collisions; the size-ratio prune inside the candidate join keeps
    them from reaching the verify. Candidate volume on a
    LOW-base-similarity corpus (the realistic 100 TB case) is ~bands *
    J_base^rows of all pairs — at J_base=0.3, 5x6 collides on ~0.4% of
    pairs; still linear-ish and bounded by real collisions.

    At 100 TB nothing here is quadratic: candidate volume is bounded by
    real collisions, and each join is a plain hash shuffle AQE can skew-
    split. Each pair is emitted once, at its first colliding band.
    Rows-only correctness check (hash seeds are engine-specific).
    """
    docs = ensure_parallelism(docs)
    banded = minhash_banded(
        docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes, bands=bands
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            _same_bucket()
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & _size_ratio_ok(F.col("a.nt"), F.col("b.nt"), threshold)
            & _first_band_gate(bands),
        )
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
    )
    # The verify intersect is ADAPTIVE (exact either way): when the
    # corpus vocabulary is bounded (categorical sets, tags, ID sets, or
    # template corpora like this fixture), _perfect_hash_plan's one
    # distinct-count job finds an injective hash, every token set is
    # dictionary-encoded into an M-bit bitset, and |A inter B| = sum
    # popcount(fa & fb) — a few AND+popcount ops per pair instead of
    # array_intersect's per-pair boxed hash set. Open text vocabularies
    # take the array_intersect fallback — the expected 100 TB path.
    tsets = _token_hash_sets(docs, id_col, text_col)
    ph = _perfect_hash_plan(tsets)
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

        tsets = tsets.withColumn("th", bitset(F.col("th")))
        inter = F.aggregate(
            F.zip_with("ta", "tb", lambda x, y: F.bit_count(x.bitwiseAND(y))),
            F.lit(0),
            lambda acc, c: acc + c,
        )
    else:
        inter = F.size(F.array_intersect("ta", "tb"))

    def side(s: str) -> DataFrame:
        return tsets.select(
            F.col("doc_id").alias(f"doc_id_{s}"),
            F.col("th").alias(f"t{s}"),
            F.col("nt").alias(f"n{s}"),
        )

    return _jaccard_verify(
        cand.join(side("a"), "doc_id_a").join(side("b"), "doc_id_b"),
        ("doc_id_a", "doc_id_b"),
        inter,
        F.col("na"),
        F.col("nb"),
        threshold,
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


def _bit_banded(df: DataFrame, id_col: str, sig_col: str, bands: int, width: int) -> DataFrame:
    """(id, sig, band, bhash, prev..): band rows over ``bands`` disjoint
    ``width``-bit slices of a bit-signature column."""
    mask = (1 << width) - 1
    return _band_rows(
        df,
        [id_col, sig_col],
        [F.shiftright(F.col(sig_col), b * width).bitwiseAND(F.lit(mask)) for b in range(bands)],
    )


def hamming_band_pairs(
    df: DataFrame, id_col: str, sig_col: str, *, bands: int, width: int, max_hamming: int
) -> DataFrame:
    """({id_col}_a, {id_col}_b, hamming): pairs of rows (a < b) whose
    bit signatures agree on at least one of ``bands`` disjoint
    ``width``-bit slices and differ in at most ``max_hamming`` bits. By
    pigeonhole, the banding finds every pair within Hamming bands-1;
    beyond that its recall is partial. Each pair is emitted at its first
    colliding band, then verified with one xor+popcount."""
    banded = _bit_banded(df, id_col, sig_col, bands, width)
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            _same_bucket()
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & _first_band_gate(bands),
        )
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
            F.bit_count(F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def _simhash_sigs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, sig): the SimHash signature of every doc."""
    return docs.select(F.col(id_col).alias("doc_id"), simhash_bits(F.col(text_col)).alias("sig"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs (doc_id_a, doc_id_b, hamming): block on
    exact match of one of 4 16-bit bands (any pair within Hamming<=3 of
    the 64-bit sig must agree on >=1 band; wider max_hamming trades
    recall), verify bit_count(xor) <= k; each pair once
    (hamming_band_pairs)."""
    docs = ensure_parallelism(docs)
    return hamming_band_pairs(
        _simhash_sigs(docs, id_col, text_col),
        "doc_id",
        "sig",
        bands=bands,
        width=64 // bands,
        max_hamming=max_hamming,
    )


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
    signatures are identical to minhash_lsh_pairs (same banded-LSH core,
    so the decision sets agree — also pinned); no first-band gate is
    needed because EXISTS is idempotent across a pair's bands. Cost
    note: token-hash sets ride the banded shuffle (bands x corpus), the
    price of verifying inside the join; rows-only correctness
    (hash-seeded).

    ORDERED MERGE-SEMI probe. The semi join's "stop at the first
    confirmed duplicate" is only linear if a probe row MEETS a verifying
    lower-id partner early. With a shuffled-HASH build the bucket's
    entries are scanned in hash-chain order (Spark prepends —
    effectively reverse insertion order), so on a duplicate-saturated
    bucket a probe can scan O(bucket) higher-id entries first
    (quadratic wall, measured in OPTIMIZATION_r10.md §7). So the build
    side is partitioned on the join key and sorted (band, bhash, doc_id)
    within partitions, and the join is pinned to SORT-MERGE. The merge
    scans each key group in that sort order — ascending doc_id — and
    LeftSemi emits on the first row satisfying the residual verify, so
    every probe in a saturated bucket confirms against the bucket's
    minimum-id member in O(1) buffered rows BY CONSTRUCTION (the sort is
    part of the plan, not hash luck; the build-side ordering satisfies
    the SMJ's required (band, bhash) prefix, so no second sort is
    inserted). A bucket whose members collide in every band yet never
    verify still scans the full group — true of any exact-verify LSH."""
    docs = ensure_parallelism(docs)
    banded = _band_rows(
        _signatures(docs, id_col, text_col, num_hashes),
        ["doc_id", "th", "nt"],
        _minhash_bands(num_hashes, bands),
    )
    inter = F.size(F.array_intersect(F.col("a.th"), F.col("b.th")))
    verify = (
        (F.col("a.doc_id") < F.col("b.doc_id"))
        & _size_ratio_ok(F.col("a.nt"), F.col("b.nt"), threshold)
        & (_jaccard(inter, F.col("a.nt"), F.col("b.nt")) >= F.lit(threshold))
    )
    # Build side carries a bucket-local row_number ordered by doc_id.
    # The rank value itself is inert (see the verify conjunct below) —
    # what matters is the WindowExec it forces: its required sort is
    # (band, bhash, doc_id), the window preserves that ordering and the
    # hash(band, bhash) partitioning, and the SMJ's required (band,
    # bhash) ordering is a satisfied PREFIX, so no re-sort is inserted
    # and every merge group is scanned ascending by doc_id. (A plain
    # sortWithinPartitions is NOT enough: Catalyst's EliminateSorts
    # removes explicit sorts under order-agnostic operators like joins,
    # while a window's sort is load-bearing and survives.) The merge
    # hint pins SORT-MERGE: a broadcast or shuffled-hash build would
    # scan buckets in hash-chain order again. Both are pinned by
    # tests/test_plan_pins.py.
    wb = Window.partitionBy("band", "bhash").orderBy("doc_id")
    build = banded.withColumn("_rk", F.row_number().over(wb)).hint("merge").alias("a")
    pruned = (
        banded.alias("b")
        .join(
            build,
            _same_bucket()
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
    O(pairs), and no first-band gate is needed (EXISTS is idempotent
    across bands)."""
    docs = ensure_parallelism(docs)
    banded = _bit_banded(_simhash_sigs(docs, id_col, text_col), "doc_id", "sig", bands, 64 // bands)
    pruned = (
        banded.alias("b")
        .join(
            banded.alias("a"),
            _same_bucket()
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
    # a removed run starts at rm[0] and wherever the sorted sequence
    # jumps by more than 1; it ends just before each jump and at rm[m-1]
    run_starts = F.concat(
        F.slice(rmc, 1, 1),
        F.filter(
            adjacent_pairs(rmc, lambda p, c: F.when(c != p + 1, c)),
            lambda x: x.isNotNull(),
        ),
    )
    run_ends = F.concat(
        F.filter(
            adjacent_pairs(rmc, lambda p, c: F.when(c != p + 1, p)),
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
