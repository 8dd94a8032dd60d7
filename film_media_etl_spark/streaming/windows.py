"""Structured Streaming operators (SURVEY §2.J extension surface).

The reference is a one-shot batch ETL; 'Real-time Updates: Incremental ETL'
is listed as future work only (README:177). This module supplies that
future work Spark-natively: the SAME windowed aggregations as the batch
queries in queries.events_windows, expressed over an unbounded source with
watermarks for late data, plus streaming dedup and a custom stateful
operator (applyInPandasWithState).

Correctness strategy: streams have no SQL oracle, so pytest runs each
stream with trigger(availableNow) against the static events table and
compares to the batch twin (tests/test_streaming.py).

Scale notes: watermark horizon bounds state size; session windows merge
state per key (user) — a skewed user becomes a hot key, mitigable by
pre-bucketing user_id. File sources at 100 TB should be replaced by a
replayable log (Kafka) with maxFilesPerTrigger/maxOffsetsPerTrigger
backpressure.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Raw schema as stored: ts is parquet TIMESTAMP(NANOS) read as int64
# (see sources.parquet.load_table for the batch-side handling).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def _declared_unit_basenames(sf_dir: str) -> dict[str, list[str]]:
    """Footer-probe every build-time events file for the parquet TIMESTAMP
    logical type (pyarrow reads only the footer — no data pages).

    Under nanosAsLong the (streaming and batch) parquet reader hands a
    declared TIMESTAMP column to a pinned LongType in the file's OWN unit
    — raw nanos for TIMESTAMP(NANOS) (verified empirically by
    tests/test_streaming.py::test_stream_ts_unit_from_parquet_footer; an
    earlier comment claimed the streaming reader converted to micros,
    which the heuristic had masked), micros for TIMESTAMP(MICROS). So a
    declared file's unit is KNOWN exactly. Returns {"ns": [...basenames],
    "us": [...]}; everything else (plain-int64 ts, unreadable footer,
    exotic units) stays on the magnitude fallback."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    declared: dict[str, list[str]] = {"ns": [], "us": []}
    for f in sorted(glob.glob(os.path.join(sf_dir, "events*.parquet"))):
        try:
            t = pq.read_schema(f).field("ts").type
        except Exception:  # noqa: BLE001 — unknown footer -> fallback tier
            continue
        if pa.types.is_timestamp(t) and t.unit in declared:
            declared[t.unit].append(os.path.basename(f))
    return declared


def read_events_stream(
    spark: SparkSession, sf_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (schema pinned — no
    inference on streams), timestamps normalized to micros.
    ``max_files_per_trigger`` is the file-source backpressure knob (one
    micro-batch per N files — daily-drop emulation and restart tests).

    Unit handling (round-3 advice: read the logical type, don't guess):
    files whose parquet footer declares a TIMESTAMP logical type are
    probed at build time and their values taken as micros directly —
    exact at ANY epoch. Only files with an UNDECLARED unit (plain int64
    ts — the footer genuinely cannot say whether they are nanos or
    micros) fall back to the magnitude heuristic: abs(ts) >= 1e17 means
    nanos, valid for 1973..5138. Files arriving after stream build are
    also heuristic-tier (their footers were never seen). Declared
    TIMESTAMP(NANOS) files read as raw nanos because the engine session
    sets ``spark.sql.legacy.parquet.nanosAsLong`` (``session.get_spark``)."""
    # File-stream sources need a directory basePath; the testdata ships one
    # flat file per table, so stream the directory with a glob filter.
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA).option(
        "pathGlobFilter", "events*.parquet"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    heuristic = F.expr(
        "CASE WHEN abs(ts) >= 100000000000000000 THEN ts div 1000 ELSE ts END"
    )
    declared = _declared_unit_basenames(sf_dir)
    if declared["ns"] or declared["us"]:
        basename = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        micros = (
            F.when(basename.isin(declared["ns"]), F.expr("ts div 1000"))
            .when(basename.isin(declared["us"]), F.col("ts"))
            .otherwise(heuristic)
        )
    else:
        micros = heuristic
    return raw.withColumn("ts", F.timestamp_micros(micros))


def stream_tumbling_agg(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 10-minute windows per event type with late-data handling:
    events older than the watermark horizon are dropped, windows finalize
    once the watermark passes window_end (append mode)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_session_agg(events: DataFrame, *, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Per-user session windows (30-min inactivity gap) on a stream —
    sessions merge as events arrive and close when the watermark passes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state:
    dropDuplicatesWithinWatermark keeps keys only inside the horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


_USER_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("total", T.DoubleType(), False),
    ]
)


def stream_stateful_user_totals(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event counts and value totals across micro-batches (the
    escape hatch for operators no built-in window expresses)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_USER_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)


def stream_stateful_topk(
    events: DataFrame, *, k: int = 3, watermark: str = "1 hour"
) -> DataFrame:
    """Per-user running top-k event values on the transformWithState API
    (Spark 4's successor to applyInPandasWithState): typed ValueState
    holds each user's current top-k array, updated per micro-batch, and
    the operator re-emits the user's full top-k ranking after every
    update (update output mode).

    Why this operator: a running top-k is the canonical aggregation NO
    built-in window expresses on a stream (max() loses the runners-up;
    collect_list state would be unbounded) — bounding state at k values
    per key is exactly what the custom-state escape hatch is for. State
    size: k doubles per user, independent of stream length; a TTL
    (ttlDurationMs on the state handle) is the production knob for
    evicting dormant users.

    ENVIRONMENT NOTE: executing this operator requires the
    ``protobuf`` package (the transformWithState state-server protocol
    is protobuf-framed) — absent in this container, so the pytest twin
    (tests/test_streaming.py::test_stream_stateful_topk_matches_batch)
    skips with an explicit reason; the applyInPandasWithState twin
    (stream_stateful_user_totals) covers the custom-state path end-to-
    end on the older protocol, which has no such dependency."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    # transformWithState requires the RocksDB state store (typed state +
    # TTL live on its column families; the default HDFS-backed store has
    # no support and the query crashes at start). The provider conf is
    # SESSION-wide, and silently flipping it here would also reroute any
    # OTHER streaming query started later in the session — breaking
    # restarts from checkpoints written under the default provider
    # (ADVICE r3). So the caller must opt in explicitly; we only verify.
    _ROCKSDB = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    provider = events.sparkSession.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    if not provider.endswith("RocksDBStateStoreProvider"):
        raise ValueError(
            "stream_stateful_topk needs the RocksDB state store; set "
            f"spark.sql.streaming.stateStore.providerClass={_ROCKSDB} "
            "on the session before building this stream (session-wide "
            "conf: it affects every streaming query and their checkpoint "
            "compatibility, so it must be an explicit caller decision)"
        )

    class TopKProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("topk", "vals ARRAY<DOUBLE>")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            cur = list(self._state.get()[0]) if self._state.exists() else []
            for pdf in rows:
                cur.extend(float(v) for v in pdf["value"].dropna())
            # deterministic under ties: sort desc, stable on value only —
            # equal values are interchangeable in a value-ranking
            cur = sorted(cur, reverse=True)[:k]
            self._state.update((cur,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(cur),
                    "rank": list(range(1, len(cur) + 1)),
                    "value": cur,
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            TopKProcessor(),
            outputStructType=_TOPK_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


_HOLT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("n_days", T.LongType(), False),
        T.StructField("level", T.DoubleType(), False),
        T.StructField("trend", T.DoubleType(), False),
        T.StructField("forecast_next", T.DoubleType(), False),
    ]
)
# state: committed recursion + the still-open trailing day's partial sum
# (decimals ride as exact strings — float state would drift off the
# batch twin's 6dp-quantized recursion)
_HOLT_STATE = T.StructType(
    [
        T.StructField("pending_day", T.StringType(), False),
        T.StructField("pending_sum", T.StringType(), False),
        T.StructField("n_done", T.LongType(), False),
        T.StructField("level", T.StringType(), False),
        T.StructField("trend", T.StringType(), False),
    ]
)


def stream_holt_forecast(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of queries.decomposition.ext_holt_forecast: the
    per-key Holt level/trend recursion carried across micro-batches —
    the unbounded-series path the batch op's docstring points at.

    Structured Streaming refuses applyInPandasWithState AFTER a
    streaming aggregation (two stateful operators), so the daily
    aggregation lives INSIDE the state: each key's state holds the
    committed recursion plus the still-open trailing day's partial sum;
    a day folds into the recursion only when a later day arrives, and
    every emission applies the pending day PROVISIONALLY so the output
    always reflects all data seen (and equals the batch twin once the
    stream drains). Per-step quantization is the same 6dp decimal as
    the batch op. State is 4 numbers + a date per key, independent of
    stream length.

    Ordering contract: days must arrive non-decreasing across batches
    per key (replayed logs, availableNow file source); out-of-order
    days need transformWithState event-time timers instead."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator, state: GroupState):
        import pandas as pd

        q6, q3 = Decimal("0.000001"), Decimal("0.001")
        A, A2 = Decimal("0.5"), Decimal("0.5")
        B, B2 = Decimal("0.3"), Decimal("0.7")

        def fold(n: int, level: Decimal, trend: Decimal, y: Decimal):
            # pure DECIMAL recursion — the batch op's exact arithmetic
            # (see queries/decomposition.py: double rounding at the 6dp
            # boundary diverges between engines; decimals never do)
            if n == 0:
                return y.quantize(q6, rounding=ROUND_HALF_UP), Decimal(0)
            lnew = (A * y + A2 * (level + trend)).quantize(q6, rounding=ROUND_HALF_UP)
            bnew = (B * (lnew - level) + B2 * trend).quantize(q6, rounding=ROUND_HALF_UP)
            return lnew, bnew

        if state.exists:
            pd_day, pd_sum_s, n_done, l_s, b_s = state.get
            pend_sum = Decimal(pd_sum_s)
            level, trend = Decimal(l_s), Decimal(b_s)
        else:
            pd_day, pend_sum, n_done, level, trend = "", Decimal(0), 0, Decimal(0), Decimal(0)

        rows = pd.concat(list(pdfs))
        rows["day"] = rows["d"].astype(str)
        daily = {}
        for day, grp in rows.groupby("day"):
            daily[day] = sum(
                (Decimal(repr(float(v))).quantize(q3, rounding=ROUND_HALF_UP)
                 for v in grp["value"]),
                Decimal(0),
            )
        for day in sorted(daily):
            if pd_day == "":
                pd_day, pend_sum = day, daily[day]
            elif day == pd_day:
                pend_sum += daily[day]
            else:  # a later day arrived: the pending day is complete
                level, trend = fold(n_done, level, trend, pend_sum)
                n_done += 1
                pd_day, pend_sum = day, daily[day]
        state.update((pd_day, str(pend_sum), n_done, str(level), str(trend)))
        # provisional emission: apply the open day without committing it
        pl, pt = fold(n_done, level, trend, pend_sum)
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_days": [n_done + 1],
                "level": [float(pl)],
                "trend": [float(pt)],
                "forecast_next": [float(pl) + float(pt)],
            }
        )

    keyed = events.withWatermark("ts", watermark).select(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d"),
        "value",
    )
    return keyed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_HOLT_SCHEMA,
        stateStructType=_HOLT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
