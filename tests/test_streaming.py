"""Structured Streaming tests: the pipeline as a stream matches the batch
run; watermarked windows drop late data; streaming sessionization."""

import datetime as dt
import time

from pyspark.sql import functions as F

from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
from deidentify_spark.sources.pages import PAGE_COLUMNS, generate_pages
from deidentify_spark.streaming.jobs import (
    stream_pipeline,
    stream_sessionization,
    stream_windowed_counts,
)

KEY = "stream-key"


def test_stream_pipeline_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 300, seed=11, partitions=4).select(*PAGE_COLUMNS)
    pages.write.parquet(inp)

    cfg = PipelineConfig(secret_key=KEY)
    q = stream_pipeline(spark, inp, out, ckpt, cfg).trigger(availableNow=True).start()
    q.awaitTermination(300)

    streamed = {
        r.url: (r.keep, r.drop_reason, r.scrubbed_text)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        r.url: (r.keep, r.drop_reason, r.scrubbed_text)
        for r in run_pipeline(spark.read.parquet(inp), cfg).collect()
    }
    assert streamed == batch


def test_stream_pipeline_resume_no_reprocess(spark, tmp_path):
    """The checkpoint makes restarts incremental: a second availableNow
    run over an unchanged input emits nothing new."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    generate_pages(spark, 100, seed=12, partitions=2).select(*PAGE_COLUMNS).write.parquet(inp)
    cfg = PipelineConfig(secret_key=KEY)

    q = stream_pipeline(spark, inp, out, ckpt, cfg).trigger(availableNow=True).start()
    q.awaitTermination(300)
    n1 = spark.read.parquet(out).count()
    assert n1 == 100

    q = stream_pipeline(spark, inp, out, ckpt, cfg).trigger(availableNow=True).start()
    q.awaitTermination(300)
    assert spark.read.parquet(out).count() == n1  # nothing reprocessed

    # new files are picked up incrementally
    generate_pages(spark, 50, seed=13, partitions=1).select(*PAGE_COLUMNS).write.mode(
        "append"
    ).parquet(inp)
    q = stream_pipeline(spark, inp, out, ckpt, cfg).trigger(availableNow=True).start()
    q.awaitTermination(300)
    assert spark.read.parquet(out).count() == n1 + 50


def test_stream_pipeline_html_ingestion(spark, tmp_path):
    """The WARC-ingestion posture streams: extract_from_html derives
    text inside the streaming plan (stateless stage), matching the batch
    text path doc-for-doc."""
    import pyspark.sql.functions as F

    from deidentify_spark.pipeline.stages import run_pipeline

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 120, seed=17, partitions=2).select(*PAGE_COLUMNS)
    # poison text on disk so only the html path can be right
    pages.withColumn("text", F.lit("")).write.parquet(inp)

    cfg = PipelineConfig(secret_key=KEY, extract_from_html=True)
    q = stream_pipeline(spark, inp, out, ckpt, cfg).trigger(availableNow=True).start()
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    want = run_pipeline(pages, PipelineConfig(secret_key=KEY))
    cols = ["url", "lang_pred", "drop_reason", "keep", "scrubbed_text"]
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0


def _write_events(spark, path, rows, mode="append"):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.mode(mode).parquet(path)


def test_watermark_drops_late_data(spark, tmp_path):
    """File 1 advances the watermark past an old window; file 2's late
    row lands beyond the watermark and is dropped from the results."""
    inp = str(tmp_path / "ev")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    # The EFFECTIVE filtering watermark lags two batches behind the data
    # that set it (batch N filters with the watermark derived from data
    # through batch N-2), so the late row goes in the third file:
    # file 1: the noon-window events + a far-future watermark advancer
    _write_events(
        spark,
        inp,
        [
            (1, base, 1, "click", 1.0, "{}"),
            (2, base + dt.timedelta(minutes=5), 1, "click", 1.0, "{}"),
            (3, base + dt.timedelta(hours=3), 1, "click", 1.0, "{}"),
        ],
    )
    time.sleep(1.1)  # distinct file mtimes => deterministic trigger order
    # file 2: innocuous event in a fresh window (one batch of slack)
    _write_events(
        spark,
        inp,
        [(4, base + dt.timedelta(hours=3, minutes=2), 1, "click", 1.0, "{}")],
    )
    time.sleep(1.1)
    # file 3: a LATE event for the finalized-and-evicted noon window
    _write_events(
        spark,
        inp,
        [(5, base + dt.timedelta(minutes=1), 1, "click", 1.0, "{}")],
    )

    agg = stream_windowed_counts(
        spark, inp, watermark="30 minutes", window="10 minutes", max_files_per_trigger=1
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = {
        (r.win_start, r.n_events)
        for r in spark.sql("select * from late_test").collect()
    }
    # the noon window must report 2 events — the late 4th was dropped
    assert ("2024-01-01 12:00", 2) in rows, rows


def test_streaming_sessionization(spark, tmp_path):
    inp = str(tmp_path / "sess")
    base = dt.datetime(2024, 3, 1, 9, 0, 0)
    _write_events(
        spark,
        inp,
        [
            (1, base, 7, "a", 1.0, "{}"),
            (2, base + dt.timedelta(minutes=10), 7, "a", 1.0, "{}"),
            (3, base + dt.timedelta(hours=2), 7, "a", 1.0, "{}"),  # new session
            (4, base + dt.timedelta(hours=9), 7, "a", 1.0, "{}"),  # push watermark
        ],
    )
    agg = stream_sessionization(spark, inp, gap="30 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = {
        (r.session_start, r.n_events)
        for r in spark.sql("select * from sess_test").collect()
    }
    assert ("2024-03-01 09:00:00", 2) in rows, rows
    assert ("2024-03-01 11:00:00", 1) in rows, rows


def test_stateful_stream_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState: each url emitted once across micro-batches
    and across query restarts (state in the checkpoint)."""
    from deidentify_spark.streaming.jobs import stream_dedup_first_seen

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")

    p1 = generate_pages(spark, 80, seed=21, partitions=2).select(*PAGE_COLUMNS)
    p1.write.parquet(inp)
    time.sleep(1.1)
    # second file: 40 duplicate urls (same seed range) + 40 new ones
    dup = generate_pages(spark, 40, seed=21, partitions=1).select(*PAGE_COLUMNS)
    new = generate_pages(spark, 120, seed=21, partitions=1).select(*PAGE_COLUMNS).where(
        F.col("url").isin([r.url for r in
            generate_pages(spark, 120, seed=21, partitions=1).select("url").collect()[80:]])
    )
    dup.union(new).write.mode("append").parquet(inp)

    def run():
        q = (
            stream_dedup_first_seen(spark, inp)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    urls = [r.url for r in spark.read.parquet(out).collect()]
    assert len(urls) == len(set(urls)), "stream emitted a url twice"
    assert len(set(urls)) == 120  # 80 + 40 genuinely new

    # restart over the same input: nothing new emitted (state persisted)
    run()
    assert spark.read.parquet(out).count() == 120

