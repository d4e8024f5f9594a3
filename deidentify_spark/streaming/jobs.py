"""Structured Streaming jobs.

The filter+scrub pipeline is stateless per document (SURVEY.md §0), so it
streams trivially: readStream -> the same fused stage -> writeStream
append, with checkpointLocation giving exactly-once file-source progress.
Stateful pieces (windowed counts with watermark, streaming
sessionization) use the standard event-time operators; late data beyond
the watermark is dropped by the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline

PAGES_STREAM_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    cfg: PipelineConfig,
    max_files_per_trigger: int | None = None,
) -> DataStreamWriter:
    """The batch pipeline as a stream: parquet file source -> fused
    filter+scrub -> parquet sink. Returns the un-started writer so
    callers choose the trigger."""
    reader = spark.readStream.schema(PAGES_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_path)
    out = run_pipeline(pages, cfg)
    return (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )


def stream_windowed_counts(
    spark: SparkSession,
    input_path: str,
    watermark: str = "30 minutes",
    window: str = "10 minutes",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Tumbling event-time counts with late-data drop via watermark."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(input_path)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def stream_dedup_first_seen(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Custom stateful operator: emit each url exactly once (its first
    sighting), deduplicating ACROSS micro-batches via per-key state
    (applyInPandasWithState). The streaming analogue of exact dedup for
    a continuously-ingested crawl; state survives restarts through the
    query checkpoint."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        StructField as SF,
        StructType as ST,
    )

    out_schema = ST(
        [
            SF("url", StringType()),
            SF("first_ts", TimestampType()),
        ]
    )
    state_schema = ST([SF("seen", IntegerType())])

    def dedup(key, pdfs, state: GroupState):
        if state.exists:
            return iter(())
        first_ts = None
        for pdf in pdfs:
            ts = pdf["warc_ts"].min()
            # pandas min() of an all-null chunk is NaT, not None —
            # pd.notna is the only safe guard (NaT < x is always False,
            # so a NaT first_ts would stick and be emitted)
            if pd.notna(ts) and (first_ts is None or ts < first_ts):
                first_ts = ts
        state.update((1,))
        return iter([pd.DataFrame({"url": [key[0]], "first_ts": [first_ts]})])

    reader = spark.readStream.schema(PAGES_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_path)
    return (
        pages.select("url", "warc_ts")
        .groupBy("url")
        .applyInPandasWithState(
            dedup,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_sessionization(
    spark: SparkSession,
    input_path: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization with session_window + watermark."""
    ev = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(input_path)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def tws_available() -> bool:
    """True when the Spark 4.x transformWithStateInPandas runtime can
    actually run here: its state-server Python runner imports
    google.protobuf, which is not part of this sandbox's baked-in
    package set (probe, don't crash mid-query — the query fails with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE otherwise)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_dedup_first_seen_tws(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = 1,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """`transformWithStateInPandas` twin of :func:`stream_dedup_first_seen`
    (Spark 4.x arbitrary-state API). Same semantics — each url emitted
    exactly once at first sighting — plus optional per-key state TTL:
    at crawl scale the url-state store grows monotonically under the
    older applyInPandasWithState API (NoTimeout), while here
    ``state_ttl_ms`` lets seen-markers expire after the window in which
    a recrawl would realistically produce a duplicate, bounding state at
    O(urls per TTL window) instead of O(all urls ever). A url recrawled
    after the TTL is emitted again — by design (it IS new content at
    that point: crawl dedup policy, not exact-set semantics).

    TTL requires timeMode="ProcessingTime"; with no TTL the state is
    exact and permanent, matching the applyInPandasWithState twin
    (equivalence pinned in tests/test_streaming.py).
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import IntegerType
    from pyspark.sql.types import StructField as SF
    from pyspark.sql.types import StructType as ST

    out_schema = ST(
        [
            SF("url", StringType()),
            SF("first_ts", TimestampType()),
        ]
    )

    class FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState(
                "seen", ST([SF("seen", IntegerType())]), ttlDurationMs=state_ttl_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._seen.exists():
                return iter(())
            first_ts = None
            for pdf in rows:
                ts = pdf["warc_ts"].min()
                # NaT guard — same rationale as the applyInPandasWithState
                # twin: min() of an all-null chunk is NaT, and NaT
                # comparisons are always False
                if pd.notna(ts) and (first_ts is None or ts < first_ts):
                    first_ts = ts
            self._seen.update((1,))
            return iter([pd.DataFrame({"url": [key[0]], "first_ts": [first_ts]})])

        def close(self) -> None:
            pass

    reader = spark.readStream.schema(PAGES_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_path)
    return (
        pages.select("url", "warc_ts")
        .groupBy("url")
        .transformWithStateInPandas(
            FirstSeen(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="ProcessingTime" if state_ttl_ms else "None",
        )
    )
