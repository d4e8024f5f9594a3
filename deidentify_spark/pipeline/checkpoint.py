"""Resumable pipeline runs: snapshot checkpointing with per-bucket
manifest (north_rule: "resumable from checkpoint with per-partition
lineage + metrics").

Strategy: deterministic url-hash buckets (the same buckets as the lineage
table) are processed in waves; after each wave the scrubbed output is
written with DYNAMIC PARTITION OVERWRITE (parquet partitioned by bucket)
and the manifest records the completed buckets + a config fingerprint. A
restart loads the manifest and processes only the missing buckets — zero
recomputation of completed work, byte-identical final output (everything
is a pure function of (secret_key, doc)). Overwrite-by-partition (not
append) makes the wave write idempotent: a crash AFTER the data write but
BEFORE the manifest write re-runs the wave on resume and replaces the
same bucket partitions, never duplicating rows or metrics.

Iceberg: when an Iceberg catalog is on the classpath the same flow maps
onto `df.writeTo(tbl).append()` with snapshot ids in place of the
manifest; the sandbox has no Iceberg runtime jar, so the parquet+manifest
path is the tested implementation and `iceberg_available()` gates the
upgrade (SURVEY.md §2.F).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from deidentify_spark.pipeline.lineage import lineage_metrics
from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline

MANIFEST_NAME = "_manifest.json"


def iceberg_available(spark: SparkSession) -> bool:
    """True if an Iceberg DataSource is loadable in this session."""
    try:
        jvm = spark._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def _config_fingerprint(cfg: PipelineConfig) -> str:
    payload = json.dumps(
        {
            "secret_key": hashlib.sha256(cfg.secret_key.encode()).hexdigest(),
            "target_lang": cfg.target_lang,
            "min_lang_conf": cfg.min_lang_conf,
            "max_perplexity": cfg.max_perplexity,
            "n_buckets": cfg.n_buckets,
            # scrub semantics: resuming with IP detection toggled would
            # mix two scrub behaviors across buckets in one output
            "detect_ips": cfg.detect_ips,
            "quality": sorted(
                (k, str(v)) for k, v in vars(cfg.quality).items()
            ),
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _manifest_path(output_path: str) -> str:
    return os.path.join(output_path, MANIFEST_NAME)


def read_manifest(output_path: str) -> dict:
    path = _manifest_path(output_path)
    if not os.path.exists(path):
        return {"fingerprint": None, "done_buckets": []}
    with open(path) as f:
        return json.load(f)


def _write_manifest(output_path: str, manifest: dict) -> None:
    # atomic replace so a crash mid-write never corrupts the manifest
    path = _manifest_path(output_path)
    fd, tmp = tempfile.mkstemp(dir=output_path, prefix=".manifest-")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, path)


def run_checkpointed(
    pages: DataFrame,
    output_path: str,
    cfg: PipelineConfig,
    n_waves: int = 4,
    fail_after_wave: int | None = None,
    fail_before_manifest_wave: int | None = None,
) -> dict:
    """Process pages wave-by-wave with manifest checkpoints.

    Buckets `b` with `b % n_waves == w` form wave `w`; a wave's output
    lands under ``output_path/scrubbed`` (partitioned by bucket) and its
    lineage rows under ``output_path/metrics`` before the manifest marks
    it done. Wave writes use DYNAMIC PARTITION OVERWRITE, so a crash in
    the window between the data write and the manifest write is safe: the
    resumed run re-processes the wave and overwrites exactly the same
    bucket partitions instead of appending duplicates — writes are
    idempotent, the manifest only tracks which waves may be skipped.
    ``fail_after_wave`` / ``fail_before_manifest_wave`` inject crashes
    for tests (after and before the manifest write respectively).
    Returns the final manifest. A fingerprint mismatch (config changed)
    raises — resuming under a different config would mix semantics.
    """
    os.makedirs(output_path, exist_ok=True)
    fp = _config_fingerprint(cfg)
    manifest = read_manifest(output_path)
    if manifest["fingerprint"] not in (None, fp):
        raise ValueError(
            "checkpoint at %s was produced with a different pipeline config "
            "(fingerprint %s != %s); use a fresh output path"
            % (output_path, manifest["fingerprint"], fp)
        )
    done = set(manifest["done_buckets"])

    spark = pages.sparkSession
    scrubbed_path = os.path.join(output_path, "scrubbed")
    # The wave filter must sit BELOW the expensive fused UDF: filter the
    # PAGES by the same url-hash bucket expression run_pipeline uses, so
    # each wave's Python stage only ever sees its own docs (filtering the
    # annotated output instead would re-run the whole pipeline over all
    # docs once per wave — n_waves x the compute).
    bucket_of_url = F.pmod(F.xxhash64("url"), F.lit(cfg.n_buckets)).cast("int")
    for wave in range(n_waves):
        wave_buckets = [b for b in range(cfg.n_buckets) if b % n_waves == wave]
        if set(wave_buckets) <= done:
            continue
        wave_pages = pages.where(bucket_of_url.isin(wave_buckets))
        # The SCRUBBED table must not retain the unscrubbed input —
        # shipping original text beside scrubbed_text would defeat
        # the de-identification (and doubles write volume; the raw
        # text stays in the immutable source the pipeline read).
        part = run_pipeline(wave_pages, cfg).drop("text")
        # Cluster by bucket BEFORE the partitioned write: without
        # this every task holds every bucket and partitionBy opens
        # tasks x buckets files (64 x 64 = 4096 tiny files in a
        # 1-wave run — measured 22s of write/commit overhead on a
        # 17s compute at local[8]); clustered, each task writes one
        # bucket dir. The exchange consumes the fused UDF's output,
        # so the Python stage still runs exactly once and at full
        # width (the UDF is map-side, above this shuffle). At 100 TB
        # a single bucket outgrows one task's file — upgrade to
        # repartitionByRange("bucket", "url") so contiguous url
        # ranges within a bucket land in separate tasks/files.
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        part = part.repartition(
            max(n_shuffle, cfg.n_buckets), "bucket"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # dynamic partition overwrite, per write (the session conf
            # is left alone): mode("overwrite") replaces ONLY the bucket
            # partitions present in the written data — the idempotence
            # mechanism for the write-then-crash-before-manifest window
            (
                part.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(scrubbed_path)
            )
            # Metrics from the persisted wave output: the fused
            # Python stage runs exactly once (the cache absorbs the
            # second action), and nothing re-reads the 100s of MB
            # just written — measured a full wave 31.8s -> ~27s at
            # local[8]/200k docs vs the read-back form. The cache is
            # one WAVE's worth (spills to disk if tight); on a
            # cluster whose waves outgrow executor storage, swap
            # back to reading the written bucket partitions — object
            # stores scale that read, a single local disk does not.
            (
                lineage_metrics(part)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(os.path.join(output_path, "metrics"))
            )
        finally:
            part.unpersist()
        if (
            fail_before_manifest_wave is not None
            and wave >= fail_before_manifest_wave
        ):
            raise RuntimeError(
                f"injected failure before manifest of wave {wave}"
            )
        done.update(wave_buckets)
        _write_manifest(
            output_path,
            {"fingerprint": fp, "done_buckets": sorted(done)},
        )
        if fail_after_wave is not None and wave >= fail_after_wave:
            raise RuntimeError(f"injected failure after wave {wave}")
    return read_manifest(output_path)


def remaining_buckets(output_path: str, cfg: PipelineConfig) -> list[int]:
    manifest = read_manifest(output_path)
    done = set(manifest["done_buckets"])
    return [b for b in range(cfg.n_buckets) if b not in done]
