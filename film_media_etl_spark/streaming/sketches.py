"""Streaming Count-Min Sketch maintenance — the mergeable-sketch sink.

CMS cells are pure additive state: the grid over any concatenation of
inputs equals the cell-wise SUM of per-part grids. That makes the
streaming maintenance exactly-once trivial to reason about: each
micro-batch computes its own partial grid (queries/scale_ops.cms_cells)
and MERGE-adds it into a versioned parquet snapshot (the sinks.py
pattern — write ``v{batch_id}``, read the highest version, so a
re-delivered batch rewrites the same version from the same input:
idempotent). The parity test proves the streamed grid equals the batch
grid over the whole corpus bit-for-bit — integer adds have no order
sensitivity, so "approximately mergeable" is actually EXACTLY mergeable.

At 100 TB the snapshot is still a fixed d x w grid (a few KB): the
whole point of maintaining a sketch instead of exact counts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..queries.scale_ops import cms_cells
from .ingest_dedup import read_documents_stream
from .sinks import read_snapshot, write_snapshot


def merge_cms(snapshot: DataFrame | None, batch_cells: DataFrame) -> DataFrame:
    """Cell-wise additive MERGE of a partial grid into the snapshot."""
    if snapshot is None:
        return batch_cells
    return (
        snapshot.unionByName(batch_cells)
        .groupBy("r", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )


def start_cms_stream(
    spark: SparkSession,
    sf_dir: str,
    snapshot_path: str,
    checkpoint: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Maintain the token-frequency CMS over the documents file stream."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(
            F.explode(tokens("text")).alias("w")
        ).where(F.col("w") != "")
        merged = merge_cms(
            read_snapshot(spark, snapshot_path, before_batch=batch_id),
            cms_cells(toks),
        )
        write_snapshot(merged, snapshot_path, batch_id)

    writer = (
        read_documents_stream(
            spark, sf_dir, max_files_per_trigger=max_files_per_trigger
        )
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Mergeable HyperLogLog sink: streaming distinct-user maintenance
# ---------------------------------------------------------------------------


def merge_hll(snapshot: DataFrame | None, batch_sketches: DataFrame) -> DataFrame:
    """Per-key union of HLL sketches into the snapshot. HLL registers
    are per-slot maxima over the hashed input SET, so union is
    idempotent, commutative, and associative — exactly the algebra the
    versioned-MERGE sink needs (re-delivered batches and any partition
    order produce identical registers; estimates are a deterministic
    function of the registers)."""
    if snapshot is None:
        return batch_sketches
    return (
        snapshot.unionByName(batch_sketches)
        .groupBy("event_type")
        .agg(F.hll_union_agg("sketch").alias("sketch"))
    )


def start_hll_stream(
    spark: SparkSession,
    sf_dir: str,
    snapshot_path: str,
    checkpoint: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Maintain per-event-type distinct-user HLL sketches over the
    events file stream — the distinct-count twin of the Count-Min sink
    above: each micro-batch aggregates its own partial sketches and
    MERGE-unions them into the versioned parquet snapshot (same
    before_batch re-delivery anchor). At 100 TB the snapshot is a few
    KB per key regardless of corpus size; monthly/daily rollups merge
    sketches instead of re-scanning raw events."""
    from .windows import read_events_stream

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sketch")
        )
        merged = merge_hll(
            read_snapshot(spark, snapshot_path, before_batch=batch_id), partial
        )
        write_snapshot(merged, snapshot_path, batch_id)

    writer = (
        read_events_stream(spark, sf_dir, max_files_per_trigger=max_files_per_trigger)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Mergeable histogram sink: streaming value-distribution maintenance
# ---------------------------------------------------------------------------


def merge_hist(snapshot: DataFrame | None, batch_cells: DataFrame) -> DataFrame:
    """Cell-wise additive MERGE of a partial histogram grid into the
    snapshot — the same exactly-mergeable integer algebra as the CMS
    grid (order-insensitive sums; re-delivery handled by the versioned
    before-batch anchor, not by the merge)."""
    if snapshot is None:
        return batch_cells
    return (
        snapshot.unionByName(batch_cells)
        .groupBy("event_type", "bin")
        .agg(F.sum("c").cast("long").alias("c"))
    )


def start_histogram_stream(
    spark: SparkSession,
    sf_dir: str,
    snapshot_path: str,
    checkpoint: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Maintain the per-event-type value histogram over the events file
    stream — the quantile leg of the sketch-sink trio (CMS counts, HLL
    distincts, histogram quantiles). Each micro-batch bins ITS OWN rows
    (queries/scale_ops.hist_cells, the exact builder the batch query
    uses) and MERGE-adds the partial grid into the versioned parquet
    snapshot. Quantiles are derived from the snapshot on read
    (scale_ops.hist_quantiles), so the stored state stays the few-KB
    mergeable grid, never a sorted value stream."""
    from ..queries.scale_ops import hist_cells
    from .windows import read_events_stream

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        merged = merge_hist(
            read_snapshot(spark, snapshot_path, before_batch=batch_id),
            hist_cells(batch_df),
        )
        write_snapshot(merged, snapshot_path, batch_id)

    writer = (
        read_events_stream(spark, sf_dir, max_files_per_trigger=max_files_per_trigger)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
