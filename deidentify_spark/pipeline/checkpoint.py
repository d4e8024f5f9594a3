"""Resumable runs (north_rule: "resumable from checkpoint with
per-partition lineage + metrics"): the repo's one commit protocol, and
the pipeline's wave-by-wave run built on it.

Commit protocol (also every stage of jobs/run_curation_job.py): write the
data with an overwrite write, THEN ``commit_manifest`` atomically replaces
``<dir>/_manifest.json``. A crash before the commit leaves the previous
manifest or none (``read_manifest`` returns None), and redoing the work is
safe because the overwrite write replaces what the crashed attempt wrote.
``fingerprint`` hashes whatever determines the output; each caller picks
its policy on a mismatch (``run_checkpointed`` raises, a curation stage
re-runs).

Iceberg: with an Iceberg catalog the same flow maps onto
``df.writeTo(tbl).append()`` with snapshot ids in place of the manifest;
the parquet+manifest path is the implemented one (SURVEY.md §2.F).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from deidentify_spark.pipeline.lineage import lineage_metrics
from deidentify_spark.pipeline.stages import (
    PipelineConfig,
    bucket_of_url,
    run_pipeline,
)

MANIFEST_NAME = "_manifest.json"


def fingerprint(payload) -> str:
    """First 16 hex chars of the sha256 of ``payload`` as sorted JSON."""
    blob = json.dumps(payload, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def read_manifest(path: str) -> dict | None:
    """The manifest committed under directory ``path``, or None if it is
    missing or unreadable (the work it would describe is then redone)."""
    try:
        with open(os.path.join(path, MANIFEST_NAME)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def commit_manifest(path: str, manifest: dict) -> None:
    """Atomically replace ``path/_manifest.json``: a crash mid-write never
    leaves a torn manifest, only the previous one."""
    fd, tmp = tempfile.mkstemp(dir=path, prefix=".manifest-")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, MANIFEST_NAME))


def _config_fingerprint(cfg: PipelineConfig) -> str:
    # every field feeds the output, so every field is hashed (a new field
    # joins by construction); the key itself never lands on disk
    payload = dataclasses.asdict(cfg)
    payload["secret_key"] = hashlib.sha256(cfg.secret_key.encode()).hexdigest()
    # plan-only: the buckets, and so the output, do not depend on it
    del payload["repartition"]
    return fingerprint(payload)


def run_checkpointed(
    pages: DataFrame,
    output_path: str,
    cfg: PipelineConfig,
    n_waves: int = 4,
) -> dict:
    """Process pages wave-by-wave with manifest checkpoints.

    Buckets `b` (the deterministic url-hash buckets of the lineage table)
    with `b % n_waves == w` form wave `w`; a wave's output
    lands under ``output_path/scrubbed`` (partitioned by bucket) and its
    lineage rows under ``output_path/metrics`` before the manifest marks
    it done. Wave writes use DYNAMIC PARTITION OVERWRITE, so a crash in
    the window between the data write and the manifest write is safe: the
    resumed run re-processes the wave and overwrites exactly the same
    bucket partitions instead of appending duplicates — writes are
    idempotent, the manifest only tracks which waves may be skipped.
    A restart processes only the missing buckets, and the final output
    is byte-identical to a one-shot run (everything is a pure function
    of (secret_key, doc)). Returns the final manifest. A fingerprint mismatch (config changed)
    raises — resuming under a different config would mix semantics.
    """
    if n_waves < 1:
        raise ValueError(f"n_waves must be >= 1, got {n_waves}")
    os.makedirs(output_path, exist_ok=True)
    fp = _config_fingerprint(cfg)
    manifest = read_manifest(output_path) or {
        "fingerprint": fp,
        "done_buckets": [],
    }
    if manifest["fingerprint"] != fp:
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
    bucket = bucket_of_url(cfg.n_buckets)
    for wave in range(n_waves):
        wave_buckets = [b for b in range(cfg.n_buckets) if b % n_waves == wave]
        if set(wave_buckets) <= done:
            continue
        wave_pages = pages.where(bucket.isin(wave_buckets))
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
        done.update(wave_buckets)
        manifest = {"fingerprint": fp, "done_buckets": sorted(done)}
        commit_manifest(output_path, manifest)
    return manifest

