"""The pipeline over a streaming DataFrame: ``run_pipeline`` on a
``readStream`` parquet source with a parquet ``writeStream`` sink matches
the batch run, resumes from its checkpoint without reprocessing, and
streams the html-ingestion path."""

from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
from deidentify_spark.sources.pages import PAGE_COLUMNS, generate_pages

KEY = "stream-key"


def _stream_once(spark, inp, out, ckpt, cfg):
    """One availableNow run: parquet file source -> run_pipeline ->
    parquet sink, checkpointed."""
    pages = spark.readStream.schema(spark.read.parquet(inp).schema).parquet(inp)
    q = (
        run_pipeline(pages, cfg)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def test_stream_pipeline_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 300, seed=11, partitions=4).select(*PAGE_COLUMNS)
    pages.write.parquet(inp)

    cfg = PipelineConfig(secret_key=KEY)
    _stream_once(spark, inp, out, ckpt, cfg)

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

    _stream_once(spark, inp, out, ckpt, cfg)
    n1 = spark.read.parquet(out).count()
    assert n1 == 100

    _stream_once(spark, inp, out, ckpt, cfg)
    assert spark.read.parquet(out).count() == n1  # nothing reprocessed

    # new files are picked up incrementally
    generate_pages(spark, 50, seed=13, partitions=1).select(*PAGE_COLUMNS).write.mode(
        "append"
    ).parquet(inp)
    _stream_once(spark, inp, out, ckpt, cfg)
    assert spark.read.parquet(out).count() == n1 + 50


def test_stream_pipeline_html_ingestion(spark, tmp_path):
    """The WARC-ingestion posture streams: extract_from_html derives
    text inside the streaming plan (stateless stage), matching the batch
    text path doc-for-doc."""
    import pyspark.sql.functions as F

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 120, seed=17, partitions=2).select(*PAGE_COLUMNS)
    # poison text on disk so only the html path can be right
    pages.withColumn("text", F.lit("")).write.parquet(inp)

    cfg = PipelineConfig(secret_key=KEY, extract_from_html=True)
    _stream_once(spark, inp, out, ckpt, cfg)

    got = spark.read.parquet(out)
    want = run_pipeline(pages, PipelineConfig(secret_key=KEY))
    cols = ["url", "lang_pred", "drop_reason", "keep", "scrubbed_text"]
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
