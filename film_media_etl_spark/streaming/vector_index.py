"""Streaming IVF index maintenance: append newly-arriving vectors to a
persisted index's cells without re-clustering — the vector-store twin of
the incremental dedup index (ingest_dedup.start_index_dedup_stream).

Split of responsibilities (the production pattern):
- the QUANTIZER (centroids) is fit offline by build_ivf_index and stays
  fixed between rebuilds — refitting per micro-batch would silently
  reshuffle every earlier vector's cell;
- each micro-batch ASSIGNS its vectors to the existing centroids (the
  same nearest-centroid expression the probe ranks cells with,
  operators/ann_index.assign_cells) and appends them as a versioned
  cell-partitioned increment ``cells_inc/v{batch_id}``;
- probes (probe_ivf_index) read base + increments, each scan keeping
  its own partition pruning; a periodic offline rebuild folds the
  increments back into the base (compaction discipline).

Exactly-once: increments are versioned directories written with
overwrite mode, so a re-delivered batch rewrites its own increment from
the same input — the sinks.py idempotency pattern. No read-anchor is
needed (appends never read prior state).

Correctness pin (tests/test_streaming.py): the streamed increments'
assignments are bit-identical to the batch assign_cells over the same
vectors, and a probe over base+increments equals a probe over an index
whose cells were written in one batch from the same data and centroids.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.ann_index import assign_cells
from ..operators.index_manifest import folded_through
from ..sources import load_table


def read_embeddings_stream(
    spark: SparkSession, sf_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the embeddings parquet (schema pinned
    from a static scan, the read_documents_stream convention)."""
    schema = load_table(spark, sf_dir, "embeddings").schema
    reader = spark.readStream.schema(schema).option(
        "pathGlobFilter", "embeddings*.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(sf_dir)


def start_vector_index_append_stream(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    checkpoint: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Append every arriving vector to the persisted IVF index at
    ``index_dir`` (which must already exist — the quantizer is the
    offline build's). Each batch is one narrow map (assignment against
    broadcast-sized centroid literals) plus one partitioned write."""
    centers = [
        (r["cell"], r["center"])
        for r in spark.read.parquet(f"{index_dir}/centroids").collect()
    ]
    if not centers:
        raise ValueError(
            f"{index_dir} has no centroids — build_ivf_index must run first"
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Compaction-watermark guard (the dedup stream's twin,
        # dedup_index.read_stream_dedup_index): a stream resumed from a
        # FRESH checkpoint replays batch ids 0..N that a committed
        # manifest already masks — read_index_cells would silently skip
        # the new increment and the next sweep would DELETE it (v <=
        # watermark), losing the ingested vectors. The contract is
        # "resume from the SAME checkpoint"; breaking it must fail
        # loudly here, before any write.
        water = folded_through(index_dir)
        if water >= batch_id:
            raise ValueError(
                f"IVF index {index_dir} compacted through v{water} but the "
                f"stream is at batch {batch_id}: compaction must run "
                "offline and streams must resume from the SAME checkpoint"
            )
        assign_cells(batch_df, centers).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(os.path.join(index_dir, "cells_inc", f"v{batch_id}"))

    writer = (
        read_embeddings_stream(
            spark, sf_dir, max_files_per_trigger=max_files_per_trigger
        )
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
