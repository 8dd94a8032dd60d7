"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
configuration below is chosen so the same logical plans scale to a real
multi-executor cluster:

- AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
  broadcast promotion) — the primary defense against skew at 100 TB.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a
  cluster this should be ~2-3x total executor cores (AQE coalesces down).
- Arrow enabled so the Pandas-UDF escape hatch is batch-vectorized.
- Session timezone pinned to UTC so date arithmetic is reproducible and
  hash-comparable with the DuckDB oracle.
- Parquet TIMESTAMP(NANOS) columns read as raw int64 nanoseconds for the
  whole session (``sources.load_table`` and ``streaming.read_events_stream``
  convert them to micros), so parquet semantics never depend on which
  query ran first.
- Spark's generated-class cache sized to the engine's plan set. One
  warehouse pass (star build, flagship, 15 reports) generates over 200
  distinct classes, more than Spark's default cache of 100 holds, so at
  the default every pass of a long-lived session recompiled most of its
  plan set, on the driver and again inside tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "film-media-etl-spark"


def cpu_count() -> int:
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw:
        try:
            return max(1, int(raw))
        except ValueError:
            pass
    return os.cpu_count() or 4


def get_spark(app_name: str = DEFAULT_APP_NAME, *, cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Idempotent: repeated calls return the active session. Config knobs that
    matter at scale are set explicitly so the intent survives a move from
    local mode to a cluster deployment.
    """
    n = cpus or cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # Shuffle sizing: local == core count; cluster == 2-3x total cores.
        .config("spark.sql.shuffle.partitions", str(n))
        # AQE: coalesce post-shuffle partitions, split skewed joins,
        # promote to broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the Pandas-UDF path (similarity / multimodal operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic, oracle-comparable date/time semantics.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: keep row-group pruning + column pruning on
        # (defaults, pinned here as documentation of intent).
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd over default snappy for every parquet the engine writes:
        # smaller files for about the same write cost. At 100 TB the scan
        # is IO-bound, so the size win compounds on every downstream read.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # TIMESTAMP(NANOS) parquet columns (events.ts in some inputs) come
        # back as raw int64 nanos; the readers convert them exactly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Runtime bloom-filter join pruning: when one join side is
        # selectively filtered, inject a bloom filter into the other
        # side's scan — at 100 TB this skips row groups that can't match.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Local mode: all memory is driver memory. Harmless on a cluster
        # where spark-submit overrides it.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Generated-class cache (static, JVM-wide, keyed by the generated
        # source; Spark's default is 100 entries). At the default a
        # warehouse pass recompiled about 350 classes with Janino and a
        # corpus-curation pass 120-260; at 1000 (several times a
        # warehouse pass's 200-odd distinct classes) a repeated pass
        # compiles almost none.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Keep the whole-stage codegen stage id out of the generated class
        # name: AQE numbers stages in the order they are re-planned, which
        # varies with concurrent jobs, and a renamed class is a cache miss.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
