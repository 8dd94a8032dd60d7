"""Persisted MinHash dedup index: build the LSH layout for a corpus
ONCE on disk, then dedup every NEW batch against it by probing — the
ingest-time shape a 100 TB training-data pipeline actually runs (the
same build/probe split ann_index.py gives the vector store).

Why it exists: the in-query LSH join (operators/dedup.py) re-signatures
the whole corpus every run. At ingest, the corpus is already indexed —
only the new batch should pay signature cost, and the corpus side
should be READ, never shuffled. The index is two parquet tables:

- ``bands/``: (doc_id, nt, band, bhash) — one row per corpus doc per
  band, the LSH candidate-generation surface. bands x corpus rows of a
  few longs each; at 100 TB this is the only corpus-sized artifact a
  probe scans, and it is orders of magnitude narrower than the corpus.
- ``sigs/``: (doc_id, nt, tok_hashes array<long>) — the token-HASH sets
  the exact-Jaccard verify needs (same cardinalities as the string
  sets; xxhash64 collisions negligible and deterministic). Only
  CANDIDATE corpus docs are ever joined against it.

Probe plan shape: the new batch's banded signatures BROADCAST into the
bands scan (a new batch is small relative to an indexed corpus by
construction), so the corpus side never exchanges; candidates then
join ``sigs`` on doc_id for the verify. Every expression (tokenize,
signature, band hash, size-ratio prune, Jaccard) is shared with
minhash_lsh_pairs via minhash_signature/minhash_banded, so the probe's
decisions are bit-identical to the batch op's — pinned by a parity
test that checks probe output == the batch pairs crossing the
corpus/batch split (tests/test_dedup_recall.py).

Exactly-once candidates use the same first-colliding-band trick as the
batch op (prev-band hashes ride both sides), so no candidate-sized
distinct() exists anywhere. Rows-only correctness (hash-seeded), recall
inherited from the shared banding (0.985 at theta=0.9, measured).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import token_hashes
from ..sources import ensure_parallelism
from .dedup import minhash_banded

_NUM_HASHES = 30
_BANDS = 5
# Probe batches broadcast into the index scans only below this row
# count. The documented regime is "batch MUCH smaller than corpus", where
# broadcasting the batch is what keeps the corpus side exchange-free —
# but an unconditional hint turns a caller's corpus-sized probe frame
# into a driver/executor OOM instead of a degraded plan (round-5 verdict
# #5). 2M banded rows of a few longs each is ~100 MB serialized, inside
# a sane driver budget; above it the hints drop and AQE picks a shuffled
# join — slower, never fatal.
_BROADCAST_PROBE_ROWS = 2_000_000


def build_dedup_index(
    docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = _NUM_HASHES,
    bands: int = _BANDS,
) -> None:
    """Signature the corpus once and persist the LSH layout. Write-once;
    probes never re-signature the corpus. Docs with empty token sets are
    absent from both tables (they cannot near-dup anything)."""
    docs = ensure_parallelism(docs)
    banded = minhash_banded(
        docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes, bands=bands
    )
    banded.write.mode("overwrite").parquet(f"{index_dir}/bands")
    th = F.array_distinct(token_hashes(text_col))
    sigs = docs.select(
        F.col(id_col).alias("doc_id"), th.alias("tok_hashes"), F.size(th).alias("nt")
    ).where(F.col("nt") > 0)
    sigs.write.mode("overwrite").parquet(f"{index_dir}/sigs")


def probe_dedup_index(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = _NUM_HASHES,
    bands: int = _BANDS,
    threshold: float = 0.9,
) -> DataFrame:
    """Near-duplicates of each new document against the INDEXED corpus:
    (probe_id, corpus_id, jaccard), exact Jaccard >= threshold on the
    shared banding's candidates. The probe side broadcasts; the index
    is scanned, never shuffled. Verify uses the open-vocabulary
    array_intersect path (the expected 100 TB regime — probe batches
    are small and candidates collision-bound, so the bitset fast path's
    corpus vocabulary probe would cost more than it saves)."""
    return probe_dedup_frames(
        spark.read.parquet(f"{index_dir}/bands"),
        spark.read.parquet(f"{index_dir}/sigs"),
        new_docs,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )


def read_stream_dedup_index(
    spark: SparkSession, index_dir: str, *, before_batch: int | None = None
) -> tuple[DataFrame | None, DataFrame | None]:
    """(bands, sigs) of a STREAM-built index
    (streaming/ingest_dedup.start_index_dedup_stream): versioned
    increments ``bands/v{batch_id}`` + ``sigs/v{batch_id}``, plus the
    compacted base generation if compact_dedup_index has run — resolved
    through the shared crash-safe manifest (operators/index_manifest.py).
    ``before_batch`` is the streaming re-delivery anchor: only
    increments committed STRICTLY before that batch id are read, so a
    replayed batch never probes its own half-written increment. Returns
    (None, None) when nothing is indexed yet.

    Guard: a compaction watermark at/above ``before_batch`` means the
    offline-compaction contract was broken (compacting a live stream,
    or restarting against a FRESH checkpoint whose batch ids replay
    below the watermark) — the folded base would contain the probing
    batch's own rows and survivor flags would silently drift, so this
    raises instead."""
    import os

    from .index_manifest import folded_through, increment_versions, read_manifest

    m = read_manifest(index_dir)
    water = folded_through(index_dir)
    if before_batch is not None and water >= before_batch:
        raise ValueError(
            f"dedup index {index_dir} compacted through v{water} but the "
            f"stream is at batch {before_batch}: compaction must run "
            "offline and streams must resume from the SAME checkpoint"
        )

    def table(name: str) -> DataFrame | None:
        parts = []
        if m is not None:
            parts.append(os.path.join(index_dir, m["base"], name))
        parts += [
            p
            for _, p in increment_versions(
                os.path.join(index_dir, name), above=water, below=before_batch
            )
        ]
        if not parts:
            return None
        # one scan per part, unioned (partitioned-dir multi-path reads
        # conflict; unionByName keeps each scan independent)
        df = spark.read.parquet(parts[0])
        for p in parts[1:]:
            df = df.unionByName(spark.read.parquet(p))
        return df

    return table("bands"), table("sigs")


def compact_dedup_index(
    spark: SparkSession, index_dir: str, *, _crash_after: str | None = None
) -> int:
    """Fold a stream-built index's versioned increments into one base
    generation — the maintenance op that keeps probe plans flat after a
    long append stream (every increment is its own scan; dozens of tiny
    scans erode the zero-exchange probe the index exists for). Same
    crash-safe shape as compact_ivf_index, via the SHARED generation
    manifest: write a new ``base_g{n}`` holding both tables, commit with
    one atomic manifest rename, sweep superseded dirs best-effort.
    OFFLINE op — run after the stream drains cleanly (availableNow
    termination) and resume from the same checkpoint.

    Both tables commit under ONE manifest, so bands and sigs can never
    disagree about what is folded. An increment version present in only
    one table (the last batch died between its two writes and was never
    re-delivered) caps the fold: only versions complete in BOTH tables
    and below the first incomplete one are folded. Returns the number
    of increment versions folded."""
    import os

    from .index_manifest import (
        commit_manifest,
        crash_point,
        folded_through,
        grace_fields,
        increment_versions,
        next_generation,
        read_manifest,
        retire_grace,
        sweep,
    )

    m = read_manifest(index_dir)
    water = folded_through(index_dir)
    roots = [os.path.join(index_dir, t) for t in ("bands", "sigs")]

    def _sweep(live: str | None) -> None:
        sweep(
            index_dir,
            live_dirs={live} if live else set(),
            inc_roots=roots,
            gen_prefix="base",
        )

    bands_vs = dict(increment_versions(roots[0], above=water))
    sigs_vs = dict(increment_versions(roots[1], above=water))
    incomplete = set(bands_vs) ^ set(sigs_vs)
    cap = min(incomplete) if incomplete else None
    folded = sorted(
        v for v in set(bands_vs) & set(sigs_vs) if cap is None or v < cap
    )
    if not folded:
        # a no-op maintenance call retires the previous cycle's
        # reader-grace view, then finishes any interrupted sweep
        retire_grace(index_dir)
        _sweep(m["base"] if m else None)
        return 0
    new_base = next_generation(index_dir, "base")
    for name, vs in (("bands", bands_vs), ("sigs", sigs_vs)):
        parts = ([os.path.join(index_dir, m["base"], name)] if m else []) + [
            vs[v] for v in folded
        ]
        df = spark.read.parquet(parts[0])
        for p in parts[1:]:
            df = df.unionByName(spark.read.parquet(p))
        df.write.mode("overwrite").parquet(os.path.join(index_dir, new_base, name))
    crash_point("write", _crash_after)
    commit_manifest(
        index_dir,
        {
            "base": new_base,
            "folded_through": folded[-1],
            # one-cycle reader grace (index_manifest.grace_fields): the
            # previous view stays until the next maintenance call
            **grace_fields(m["base"] if m else None, water),
        },
    )
    crash_point("commit", _crash_after)
    _sweep(new_base)
    return len(folded)


def probe_dedup_frames(
    idx_bands: DataFrame,
    idx_sigs: DataFrame,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = _NUM_HASHES,
    bands: int = _BANDS,
    threshold: float = 0.9,
    broadcast_limit: int = _BROADCAST_PROBE_ROWS,
) -> DataFrame:
    """The probe against index tables already loaded as DataFrames —
    the streaming incremental-index twin reads versioned increments
    (union of v* dirs) and shares this exact plan, so batch and stream
    probes cannot drift.

    The probe side (batch bands, candidates, batch token sets) rides
    broadcast only while the batch is provably small: one row-count of
    the batch (a pushed-down scan; the streaming caller has it
    localCheckpointed already) gates the hints at ``broadcast_limit``.
    Oversized probes degrade to AQE-planned shuffled joins — correct,
    just no longer exchange-free — instead of OOMing the driver."""
    # bounded peek, not a full count: a corpus-sized probe frame would
    # pay an unbounded scan just to learn it is oversized — limit(n+1)
    # stops the scan after broadcast_limit+1 rows (the ivf_probe_topk
    # convention, operators/similarity.py)
    small = new_docs.limit(broadcast_limit + 1).count() <= broadcast_limit

    def ride(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    probe_banded = (
        minhash_banded(
            new_docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes, bands=bands
        )
        .withColumnRenamed("doc_id", "probe_id")
        .withColumnRenamed("nt", "pnt")
        .withColumnRenamed("band", "pband")
        .withColumnRenamed("bhash", "pbhash")
    )
    for p in range(bands - 1):
        probe_banded = probe_banded.withColumnRenamed(f"prev{p}", f"pprev{p}")
    th = F.array_distinct(token_hashes(text_col))
    probe_sigs = new_docs.select(
        F.col(id_col).alias("probe_id"), th.alias("ptoks")
    )

    # first-colliding-band gate, bipartite spelling of the batch op's:
    # a (probe, corpus) pair is emitted only at the lowest band where
    # BOTH sides collide — earlier bands must differ on at least one side
    first_band_only = F.lit(True)
    for p in range(bands - 1):
        first_band_only = first_band_only & (
            (F.col("band") <= F.lit(p))
            | (F.col(f"prev{p}") != F.col(f"pprev{p}"))
        )
    cand = idx_bands.join(
        ride(probe_banded),
        (F.col("band") == F.col("pband"))
        & (F.col("bhash") == F.col("pbhash"))
        & (F.col("doc_id") != F.col("probe_id"))
        # size-ratio prune inside the join (J >= t forces min/max >= t)
        & (
            F.least(F.col("nt"), F.col("pnt")).cast("double")
            >= F.lit(threshold)
            * F.greatest(F.col("nt"), F.col("pnt")).cast("double")
        )
        & first_band_only,
    ).select(F.col("probe_id"), F.col("doc_id").alias("corpus_id"))

    # candidates are collision-bound (probe-batch-sized), so THEY
    # broadcast into the sigs scan — the corpus-sized side of the verify
    # join streams too; nothing corpus-sized ever exchanges in the probe
    verified = (
        idx_sigs.select(
            F.col("doc_id").alias("corpus_id"),
            F.col("tok_hashes").alias("ctoks"),
            F.col("nt").alias("cnt"),
        )
        .join(ride(cand), "corpus_id")
        .join(ride(probe_sigs), "probe_id")
        # Generate barrier: `inter` feeds jaccard twice plus the filter,
        # and HOF/array exprs are excluded from codegen subexpression
        # elimination (the minhash_lsh_pairs lesson — 4x re-evaluation)
        .withColumn(
            "inter", F.explode(F.array(F.size(F.array_intersect("ptoks", "ctoks"))))
        )
        .select(
            "probe_id",
            "corpus_id",
            (
                F.col("inter").cast("double")
                / (F.size("ptoks") + F.col("cnt") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified
