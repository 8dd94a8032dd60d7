"""Pinned recall floor for the MinHash LSH near-dup operator.

The driver checks ``ext_dedup_minhash`` rows-only (hash-seeded), so
nothing upstream catches a silent recall collapse — a banding change
that stops surfacing true near-dup pairs would still "pass". This test
pins recall against the exact blockless Jaccard ground truth (the same
verify metric the operator itself uses), mirroring the kNN recall-floor
pattern in test_graph_ops.py.

Measured recall of the default 5 bands x 6 rows at theta=0.9:
0.991 (sf0.001), 0.987 (sf0.01), 0.985 (sf0.1). Floor set at 0.95 —
tight enough to catch a tuning regression to the old 3x10 banding
(recall 0.886), loose enough to survive hash-scheme jitter.
"""

import pytest
from pyspark.sql import functions as F

from film_media_etl_spark.functions.text import token_hashes
from film_media_etl_spark.operators.dedup import minhash_lsh_pairs
from film_media_etl_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"
THETA = 0.9


@pytest.fixture(scope="module")
def docs(spark):
    """Cached corpus, UNPERSISTED at module teardown — the session is
    shared across the suite and a lingering cache entry would swap later
    plan tests' FileScan for InMemoryTableScan (observed: the bm25
    pruned-scan audit fails if this cache outlives the module)."""
    df = load_table(spark, SF_DIR, "documents").cache()
    yield df
    df.unpersist()


def _exact_pairs(docs):
    """Blockless exact token-Jaccard pairs at THETA — quadratic, fine at
    fixture scale; this is ground truth, not the scale path."""
    t = docs.select(
        F.col("doc_id"),
        F.array_distinct(token_hashes("text")).alias("toks"),
    ).withColumn("nt", F.size("toks"))
    a, b = t.alias("a"), t.alias("b")
    cond = (F.col("a.doc_id") < F.col("b.doc_id")) & (
        F.least(F.col("a.nt"), F.col("b.nt")).cast("double")
        >= F.lit(THETA) * F.greatest(F.col("a.nt"), F.col("b.nt")).cast("double")
    )
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    jac = inter.cast("double") / (F.col("a.nt") + F.col("b.nt") - inter).cast("double")
    return (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"), jac.alias("j"))
        .where(F.col("j") >= THETA)
    )


def test_minhash_recall_floor(spark, docs):
    gt = _exact_pairs(docs).cache()
    n_gt = gt.count()
    assert n_gt > 0, "fixture corpus must contain true near-dup pairs"

    found = minhash_lsh_pairs(docs, num_hashes=30, bands=5, threshold=THETA).select(
        F.col("doc_id_a").alias("x"), F.col("doc_id_b").alias("y")
    )
    hits = found.join(gt, ["x", "y"], "inner").count()
    gt.unpersist()
    recall = hits / n_gt
    assert recall >= 0.95, f"MinHash recall collapsed: {recall:.4f} < 0.95"


def test_minhash_precision_exact(spark, docs):
    """The exact-Jaccard verify stage makes every emitted pair a true
    pair — precision is 1.0 by construction; pin it."""
    gt = _exact_pairs(docs)
    found = minhash_lsh_pairs(docs, num_hashes=30, bands=5, threshold=THETA).select(
        F.col("doc_id_a").alias("x"), F.col("doc_id_b").alias("y")
    )
    false_pos = found.join(gt.select("x", "y"), ["x", "y"], "left_anti").count()
    assert false_pos == 0


def test_minhash_bitset_fastpath_equals_fallback(spark, docs, monkeypatch):
    """The adaptive bitset verify (bounded vocab -> perfect-hashed
    popcount intersect) must produce byte-identical pairs to the
    array_intersect fallback — it is a different evaluation of the SAME
    exact Jaccard. Forcing the cap to 0 disables the fast path."""
    from film_media_etl_spark.operators import dedup as D

    fast = sorted(
        (r["doc_id_a"], r["doc_id_b"], round(r["jaccard"], 12))
        for r in minhash_lsh_pairs(docs, num_hashes=30, bands=5, threshold=THETA).collect()
    )
    monkeypatch.setattr(D, "_BITSET_VOCAB_CAP", 0)
    slow = sorted(
        (r["doc_id_a"], r["doc_id_b"], round(r["jaccard"], 12))
        for r in D.minhash_lsh_pairs(docs, num_hashes=30, bands=5, threshold=THETA).collect()
    )
    assert fast == slow


def test_semantic_assignment_join_path_matches_inline(spark):
    """The large-K broadcast-join argmin must assign identically to the
    inlined-codebook path (same lexicographic (dist2, cid) tie-break)."""
    from conftest import PARITY_SF_DIR

    from film_media_etl_spark.queries.semantic_curation import _assign_clusters
    from film_media_etl_spark.sources import load_table

    emb = load_table(spark, PARITY_SF_DIR, "embeddings")
    a = _assign_clusters(emb, 8).select("vec_id", "centroid_id")
    b = _assign_clusters(emb, 8, inline_max=0).select("vec_id", "centroid_id")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_simhash_banding_recall(spark):
    """SimHash banding guarantees: recall is EXACTLY 1.0 for pairs
    within Hamming <= 3 (4 disjoint 16-bit bands — pigeonhole: 3 bit
    errors cannot touch all 4), and measured >= 0.65 for the partial
    4..6 range on the fixture corpus (0.72 measured; banding only
    promises the <= bands-1 tier)."""
    from conftest import PARITY_SF_DIR

    from pyspark.sql import functions as SF

    from film_media_etl_spark.operators.dedup import (
        simhash_bits,
        simhash_near_dup_pairs,
    )
    from film_media_etl_spark.sources import load_table

    docs = load_table(spark, PARITY_SF_DIR, "documents")
    sig = docs.select(SF.col("doc_id"), simhash_bits(SF.col("text")).alias("sig"))
    a, b = sig.alias("a"), sig.alias("b")
    exact = (
        a.join(b, SF.col("a.doc_id") < SF.col("b.doc_id"))
        .select(
            SF.col("a.doc_id").alias("x"),
            SF.col("b.doc_id").alias("y"),
            SF.bit_count(SF.col("a.sig").bitwiseXOR(SF.col("b.sig"))).alias("h"),
        )
        .where(SF.col("h") <= 6)
        .collect()
    )
    banded = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in simhash_near_dup_pairs(docs, max_hamming=6).collect()
    }
    le3 = {(r["x"], r["y"]) for r in exact if r["h"] <= 3}
    le6 = {(r["x"], r["y"]) for r in exact}
    assert le3 <= banded, "guaranteed tier (h<=3) missed pairs"
    assert len(le6 & banded) / len(le6) >= 0.65
    # precision is structural: every emitted pair carries its verified
    # exact hamming <= 6
    assert banded <= le6


def test_semantic_survivors_matches_counting_variant(spark):
    """The survivor-only tier must make the SAME keep/drop decision as
    the oracle-checked counting query (pruned == n_sim_lower > 0) on the
    real fixture."""
    from film_media_etl_spark.queries import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    counting = {
        r["vec_id"]: (r["cluster_id"], r["pruned"])
        for r in qs["ext_dedup_semantic"](spark, sf).collect()
    }
    survivors = {
        r["vec_id"]: (r["cluster_id"], r["pruned"])
        for r in qs["ext_dedup_semantic_survivors"](spark, sf).collect()
    }
    assert survivors == counting


def test_semantic_survivors_saturated_corpus_linear(spark):
    """Adversarial 100%-duplicate corpus (every vector identical -> ALL
    C(N,2) pairs qualify): the counting variant is intrinsically
    output-bound (emits every pair before aggregating), but the
    survivor semi join must stay near-linear because each probe row
    short-circuits at its first qualifying lower-id neighbor. Pin: 4x
    the corpus costs at most ~4x wall plus fixed overhead (measured
    FLAT, 1.22s -> 1.23s, on an idle local[32]; a quadratic path would
    be ~16x on the 16x pair count)."""
    import time

    import numpy as np

    from film_media_etl_spark.queries.semantic_curation import (
        _assign_clusters,
        semantic_survivor_prune,
    )

    rng = np.random.default_rng(7)
    v = rng.standard_normal(64).tolist()

    def run(n):
        df = spark.createDataFrame(
            [(i, v) for i in range(n)], "vec_id long, embedding array<double>"
        )
        out = semantic_survivor_prune(_assign_clusters(df, 8))
        t0 = time.perf_counter()
        rows = out.collect()
        dt = time.perf_counter() - t0
        assert len(rows) == n
        # greedy min-id survivor: exactly one keeper in the single block
        assert sum(r["pruned"] for r in rows) == n - 1
        return dt

    run(500)  # JIT/codegen warmup
    t1 = run(3000)
    t2 = run(12000)
    assert t2 <= 4 * t1 + 2.0, (t1, t2)


def test_minhash_survivors_matches_pairs_decision(spark):
    """The survivors tier must flag exactly the docs that appear as the
    HIGHER id in at least one verified pair from the pairs op (same
    signatures, same threshold -> identical decision sets)."""
    from film_media_etl_spark.queries import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    pairs_pruned = {
        r["doc_id_b"] for r in qs["ext_dedup_minhash"](spark, sf).collect()
    }
    got = {
        r["doc_id"]: r["pruned"]
        for r in qs["ext_dedup_minhash_survivors"](spark, sf).collect()
    }
    assert {d for d, p in got.items() if p} == pairs_pruned
    assert len(got) == qs["ext_dedup_minhash_survivors"](spark, sf).count()


def test_minhash_survivors_saturated_corpus_linear(spark):
    """100%-duplicate corpus: the pairs op is output-bound (C(N,2) pairs)
    but the survivors semi join must stay near-linear — each probe row
    confirms its first bucket partner and stops."""
    import time

    from film_media_etl_spark.operators.dedup import minhash_lsh_survivors

    text = "the quick brown fox jumps over the lazy dog again and again"

    def run(n):
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"), F.lit(text).alias("text")
        )
        t0 = time.perf_counter()
        rows = minhash_lsh_survivors(docs).collect()
        dt = time.perf_counter() - t0
        assert len(rows) == n
        assert sum(r["pruned"] for r in rows) == n - 1
        return dt

    run(500)  # warmup
    # min-of-2 per size: wall-clock noise on this host is one-sided and
    # EPISODIC (hypervisor neighbors; see README "Bench validity") — a
    # single spiked sample flunked the 4x budget in a full-suite run
    # while the same test passed solo seconds later. The min is the
    # stable estimator of true cost, same rationale as the bench's
    # output-bound tier.
    t1 = min(run(3000), run(3000))
    t2 = min(run(12000), run(12000))
    assert t2 <= 4 * t1 + 2.0, (t1, t2)


def test_simhash_survivors_matches_pairs_decision(spark):
    """pruned == appears as the higher id in >= 1 emitted SimHash pair."""
    from film_media_etl_spark.queries import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    pairs_pruned = {
        r["doc_id_b"] for r in qs["ext_dedup_simhash"](spark, sf).collect()
    }
    got = {
        r["doc_id"]: r["pruned"]
        for r in qs["ext_dedup_simhash_survivors"](spark, sf).collect()
    }
    assert {d for d, p in got.items() if p} == pairs_pruned


def test_dedup_index_probe_matches_batch_pairs(spark, tmp_path):
    """The persisted-index probe (operators/dedup_index.py) must make
    BIT-IDENTICAL pair decisions to the batch LSH join restricted to
    cross-split pairs: same tokenize/signature/band-hash expressions
    (shared builders), same first-colliding-band exactly-once gate, same
    size-ratio prune, same exact-Jaccard verify. A drift in any of them
    shows up as a set difference here."""
    from film_media_etl_spark.operators.dedup_index import (
        build_dedup_index,
        probe_dedup_index,
    )

    split = 100
    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "idx")
    build_dedup_index(docs.where(F.col("doc_id") >= split), idx)
    got = {
        (r["probe_id"], r["corpus_id"]): r["jaccard"]
        for r in probe_dedup_index(
            spark, idx, docs.where(F.col("doc_id") < split)
        ).collect()
    }
    want = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=THETA).collect()
        if r["doc_id_a"] < split <= r["doc_id_b"]
    }
    assert got == want and len(want) > 0


def test_dedup_index_probe_plan_never_shuffles_corpus_side(spark, tmp_path):
    """The 100 TB property the index exists for: the probe plan must
    BROADCAST the new batch into the index scans — no exchange on the
    corpus-sized bands table's join (reading the plan of the candidate
    join: its streamed side is the parquet scan, its build side a
    BroadcastExchange)."""
    from film_media_etl_spark.operators.dedup_index import (
        build_dedup_index,
        probe_dedup_index,
    )

    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "idx")
    build_dedup_index(docs.where(F.col("doc_id") >= 100), idx)
    probe = probe_dedup_index(spark, idx, docs.where(F.col("doc_id") < 100))
    probe.collect()  # AQE: final plan exists only after execution
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:3000]
    # no hash exchange of either index table anywhere in the plan —
    # bands and sigs both stream into broadcast joins
    assert "Exchange hashpartitioning" not in plan, plan[:3000]


def _stage_stream_shaped_index(spark, tmp_path, *, extra_bands_only: bool = False):
    """Hand-write the exact versioned layout start_index_dedup_stream
    produces: bands/v{n} + sigs/v{n} increments over the corpus split
    (doc_id >= 100) in two slices. Optionally add a bands/v2 with NO
    sigs twin — the layout a batch leaves when it dies between its two
    index writes (that batch is re-delivered on resume, so compaction
    must cap below it rather than fold half a batch)."""
    from film_media_etl_spark.operators.dedup_index import minhash_banded

    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "idx")
    slices = [
        ("v0", "doc_id >= 100 AND doc_id < 300"),
        ("v1", "doc_id >= 300"),
    ]
    for v, pred in slices:
        part = docs.where(pred)
        minhash_banded(part).write.parquet(f"{idx}/bands/{v}")
        th = F.array_distinct(token_hashes("text"))
        part.select(
            F.col("doc_id"), th.alias("tok_hashes"), F.size(th).alias("nt")
        ).where(F.col("nt") > 0).write.parquet(f"{idx}/sigs/{v}")
    if extra_bands_only:
        minhash_banded(docs.where("doc_id >= 300")).write.parquet(f"{idx}/bands/v2")
    return idx, docs.where("doc_id < 100")


def _probe_stream_index(spark, idx, batch):
    from film_media_etl_spark.operators.dedup_index import (
        probe_dedup_frames,
        read_stream_dedup_index,
    )

    bands, sigs = read_stream_dedup_index(spark, idx)
    return sorted(
        (r["probe_id"], r["corpus_id"], round(r["jaccard"], 12))
        for r in probe_dedup_frames(bands, sigs, batch, threshold=THETA).collect()
    )


def test_dedup_index_compaction_probe_parity_and_crash_windows(spark, tmp_path):
    """compact_dedup_index (round-5 verdict task #3): probe decisions
    bit-identical before/after the fold, and both crash windows of the
    shared generation-manifest machinery hold for the two-table index —
    a crash BEFORE the manifest commit leaves the increment layout
    live (retry completes), a crash AFTER it leaves masked increments
    that a re-run must NOT double-fold (true no-op)."""
    import os

    from film_media_etl_spark.operators.dedup_index import compact_dedup_index
    from film_media_etl_spark.operators.index_manifest import SimulatedCrash

    idx, batch = _stage_stream_shaped_index(spark, tmp_path)
    before = _probe_stream_index(spark, idx, batch)
    assert len(before) > 0

    # crash after the new generation is written, before the commit:
    # the live layout is still the raw increments, answers unchanged
    with pytest.raises(SimulatedCrash):
        compact_dedup_index(spark, idx, _crash_after="write")
    assert _probe_stream_index(spark, idx, batch) == before
    # crash after the commit, before the sweep: increments remain on
    # disk but the watermark masks them — no double-counting
    with pytest.raises(SimulatedCrash):
        compact_dedup_index(spark, idx, _crash_after="commit")
    assert os.path.isdir(f"{idx}/bands")
    assert _probe_stream_index(spark, idx, batch) == before
    # re-compaction is a TRUE no-op: folds nothing, finishes the sweep
    assert compact_dedup_index(spark, idx) == 0
    assert not os.path.isdir(f"{idx}/bands") and not os.path.isdir(f"{idx}/sigs")
    assert _probe_stream_index(spark, idx, batch) == before
    # and the folded probe equals the one-shot flat index over the same
    # corpus — closing the loop with the batch build/probe parity pin
    from film_media_etl_spark.operators.dedup_index import (
        build_dedup_index,
        probe_dedup_index,
    )

    flat = str(tmp_path / "flat")
    docs = load_table(spark, SF_DIR, "documents")
    build_dedup_index(docs.where("doc_id >= 100"), flat)
    want = sorted(
        (r["probe_id"], r["corpus_id"], round(r["jaccard"], 12))
        for r in probe_dedup_index(spark, flat, batch, threshold=THETA).collect()
    )
    assert before == want


def test_dedup_index_compaction_caps_below_incomplete_version(spark, tmp_path):
    """A bands/v2 with no sigs/v2 twin (a batch that died between its
    two index writes and awaits re-delivery) must CAP the fold: only
    the complete v0/v1 fold, the manifest watermark stays below v2, and
    the orphan increment survives for the re-delivered batch to
    overwrite."""
    import os

    from film_media_etl_spark.operators.dedup_index import compact_dedup_index
    from film_media_etl_spark.operators.index_manifest import read_manifest

    idx, _ = _stage_stream_shaped_index(spark, tmp_path, extra_bands_only=True)
    assert compact_dedup_index(spark, idx) == 2
    m = read_manifest(idx)
    assert m["folded_through"] == 1
    assert os.path.isdir(f"{idx}/bands/v2")  # orphan kept for re-delivery


def test_stream_index_read_guard_rejects_stale_checkpoint(spark, tmp_path):
    """A compaction watermark at/above the live batch id means the
    offline contract was broken (fresh checkpoint replaying old batch
    ids against a compacted index): the folded base would contain the
    probing batch's own rows and flags would silently drift — the read
    must raise instead."""
    from film_media_etl_spark.operators.dedup_index import (
        compact_dedup_index,
        read_stream_dedup_index,
    )

    idx, _ = _stage_stream_shaped_index(spark, tmp_path)
    assert compact_dedup_index(spark, idx) == 2
    with pytest.raises(ValueError, match="SAME checkpoint"):
        read_stream_dedup_index(spark, idx, before_batch=1)


def test_dedup_index_probe_oversized_batch_degrades_to_shuffle(spark, tmp_path):
    """Round-5 verdict #5: probe_dedup_frames broadcast the probe batch
    unconditionally — a corpus-sized probe frame meant a driver OOM
    instead of a degraded plan. With the row-count guard, an oversized
    batch (limit forced to 10 here) must (a) produce pair decisions
    IDENTICAL to the broadcast path and (b) plan at least one
    non-broadcast join (the degraded-but-correct shape). The existing
    zero-exchange plan test pins that small batches still broadcast."""
    from film_media_etl_spark.operators.dedup_index import (
        build_dedup_index,
        probe_dedup_frames,
    )

    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "idx")
    build_dedup_index(docs.where("doc_id >= 100"), idx)
    bands = spark.read.parquet(f"{idx}/bands")
    sigs = spark.read.parquet(f"{idx}/sigs")
    batch = docs.where("doc_id < 100")

    def pairs(limit):
        df = probe_dedup_frames(bands, sigs, batch, broadcast_limit=limit)
        got = sorted(
            (r["probe_id"], r["corpus_id"], round(r["jaccard"], 12))
            for r in df.collect()
        )
        return got, df._jdf.queryExecution().executedPlan().toString()

    small_pairs, small_plan = pairs(10**6)
    assert "Exchange hashpartitioning" not in small_plan
    # model the true oversized regime: with the hints dropped AND
    # auto-broadcast off (a genuinely big probe exceeds the planner's
    # thresholds too — at fixture scale we force it), the probe must
    # complete through shuffled joins with identical decisions
    from conftest import spark_conf

    with spark_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        big_pairs, big_plan = pairs(10)
    assert big_pairs == small_pairs and len(big_pairs) > 0
    assert (
        "Exchange hashpartitioning" in big_plan or "SortMergeJoin" in big_plan
    ), big_plan[:3000]
    assert "BroadcastHashJoin" not in big_plan, big_plan[:3000]


def test_dedup_probe_size_peek_is_bounded(spark, tmp_path, monkeypatch):
    """The probe's broadcast gate must learn "is the batch oversized?"
    from a BOUNDED peek (limit(broadcast_limit+1).count(), the
    ivf_probe_topk convention) — a corpus-sized probe frame must not pay
    a full scan just to discover it cannot broadcast (round-6 ADVICE).
    Pin: exactly one count() runs during planning and its plan carries
    the GlobalLimit."""
    from pyspark.sql import DataFrame

    from film_media_etl_spark.operators.dedup_index import (
        build_dedup_index,
        probe_dedup_frames,
    )

    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "idx")
    build_dedup_index(docs.where("doc_id >= 100"), idx)
    bands = spark.read.parquet(f"{idx}/bands")
    sigs = spark.read.parquet(f"{idx}/sigs")
    batch = docs.where("doc_id < 100")

    plans = []
    cls = type(batch)  # the CONCRETE class (pyspark.sql.classic since 4.0)
    assert issubclass(cls, DataFrame)
    orig = cls.count

    def spying_count(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return orig(self)

    monkeypatch.setattr(cls, "count", spying_count)
    probe_dedup_frames(bands, sigs, batch, broadcast_limit=7)
    assert len(plans) == 1, plans
    assert "GlobalLimit 8" in plans[0], plans[0][:2000]


def test_dedup_index_reader_grace_expires_with_clean_failure(spark, tmp_path):
    """The dedup twin of the IVF grace-expiry pin: a probe over index
    frames resolved BEFORE a fold, collected only after the next
    maintenance call retires the previous view, must fail with a clean
    read error — never a silently partial probe (missing corpus docs
    would mean missed duplicates, which no one notices downstream).
    Cadence contract: maintenance period >> longest probe."""
    from film_media_etl_spark.operators.dedup_index import (
        compact_dedup_index,
        probe_dedup_frames,
        read_stream_dedup_index,
    )

    idx, batch = _stage_stream_shaped_index(spark, tmp_path)
    bands, sigs = read_stream_dedup_index(spark, idx)
    stale = probe_dedup_frames(bands, sigs, batch)
    assert compact_dedup_index(spark, idx) == 2  # fold: grace begins
    assert compact_dedup_index(spark, idx) == 0  # next call retires the view
    with pytest.raises(Exception, match="(?i)file|exist|path"):
        stale.collect()
