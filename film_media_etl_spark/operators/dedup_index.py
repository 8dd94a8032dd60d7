"""Persisted MinHash dedup index: build the LSH layout for a corpus
ONCE on disk, then dedup every NEW batch against it by probing — the
ingest-time shape a 100 TB training-data pipeline actually runs (the
same build/probe split ann_index.py gives the vector store).

Why it exists: the in-query LSH join (operators/dedup.py) re-signatures
the whole corpus every run. At ingest, the corpus is already indexed —
only the new batch should pay signature cost, and the corpus side
should be READ, never shuffled. The index is two parquet tables, both
written by write_index_tables (build_dedup_index writes them once; the
stream writes one increment per micro-batch,
streaming/ingest_dedup.start_index_dedup_stream):

- ``bands/``: (doc_id, nt, band, bhash, prev0..) — minhash_banded,
  one row per corpus doc per band, the LSH candidate-generation
  surface. bands x corpus rows of a few longs each; at 100 TB this is
  the only corpus-sized artifact a probe scans, and it is orders of
  magnitude narrower than the corpus.
- ``sigs/``: (doc_id, tok_hashes, nt) — the distinct token-hash sets
  the exact-Jaccard verify needs. Only CANDIDATE corpus docs are ever
  joined against it.

Probe plan shape: the new batch's banded signatures BROADCAST into the
bands scan (a new batch is small relative to an indexed corpus by
construction), so the corpus side never exchanges; candidates then
join ``sigs`` on doc_id for the verify. Token-hash sets, signatures,
band hashes, the first-colliding-band gate (exactly-once candidates, no
distinct()), the size-ratio prune and the Jaccard verify all come from
the banded-LSH core in operators/dedup.py that minhash_lsh_pairs uses,
so the probe's decisions are bit-identical to the batch op's — pinned
by a parity test that checks probe output == the batch pairs crossing
the corpus/batch split (tests/test_dedup_recall.py). Rows-only
correctness (hash-seeded); recall is the shared banding's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import ensure_parallelism
from .dedup import (
    _first_band_gate,
    _jaccard_verify,
    _same_bucket,
    _size_ratio_ok,
    _token_hash_sets,
    minhash_banded,
)

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


def write_index_tables(
    docs: DataFrame,
    bands_path: str,
    sigs_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = _NUM_HASHES,
    bands: int = _BANDS,
) -> None:
    """Write the two index tables of ``docs`` (see the module doc).
    Docs with empty token sets are absent from both (they cannot
    near-dup anything)."""
    minhash_banded(
        docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes, bands=bands
    ).write.mode("overwrite").parquet(bands_path)
    _token_hash_sets(docs, id_col, text_col).where(F.col("nt") > 0).select(
        "doc_id", F.col("th").alias("tok_hashes"), "nt"
    ).write.mode("overwrite").parquet(sigs_path)


def build_dedup_index(
    docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = _NUM_HASHES,
    bands: int = _BANDS,
) -> None:
    """Signature the corpus once and persist the LSH layout under
    ``index_dir``. Write-once; probes never re-signature the corpus."""
    write_index_tables(
        ensure_parallelism(docs),
        f"{index_dir}/bands",
        f"{index_dir}/sigs",
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
    )


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

    probe_banded = minhash_banded(
        new_docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes, bands=bands
    )
    probe_sigs = _token_hash_sets(new_docs, id_col, text_col).select(
        F.col("doc_id").alias("probe_id"), F.col("th").alias("ptoks"), F.col("nt").alias("pnt")
    )

    # a = index side, b = probe side: a (probe, corpus) pair is emitted
    # only at the lowest band where both collide
    cand = (
        idx_bands.alias("a")
        .join(
            ride(probe_banded).alias("b"),
            _same_bucket()
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & _size_ratio_ok(F.col("a.nt"), F.col("b.nt"), threshold)
            & _first_band_gate(bands),
        )
        .select(F.col("b.doc_id").alias("probe_id"), F.col("a.doc_id").alias("corpus_id"))
    )

    # candidates are collision-bound (probe-batch-sized), so THEY
    # broadcast into the sigs scan — the corpus-sized side of the verify
    # join streams too; nothing corpus-sized ever exchanges in the probe
    joined = (
        idx_sigs.select(
            F.col("doc_id").alias("corpus_id"),
            F.col("tok_hashes").alias("ctoks"),
            F.col("nt").alias("cnt"),
        )
        .join(ride(cand), "corpus_id")
        .join(ride(probe_sigs), "probe_id")
    )
    return _jaccard_verify(
        joined,
        ("probe_id", "corpus_id"),
        F.size(F.array_intersect("ptoks", "ctoks")),
        F.col("pnt"),
        F.col("cnt"),
        threshold,
    )
