"""WARC (Web ARChive, ISO 28500) source and sink for Common-Crawl-style
captures.

Common Crawl publishes crawls as WARC files: a concatenation of records,
each ``WARC/1.0`` header block + payload, where a ``response`` record's
payload is the raw HTTP response (status line + headers + html body).
Each record is its own gzip member, so a reader can stream members out
of a multi-gigabyte file without decompressing the whole thing, and a
concatenated file is still a valid gzip stream.

This module implements both directions with no dependencies:

* ``write_warc`` — a distributed sink: one task writes one ``.warc.gz``
  per input partition (per-record gzip members, deterministic content)
  and yields a manifest row (file, n_records, n_bytes).  Writing bypasses
  Spark's committer on purpose: WARC is an interchange format with a
  fixed external layout, not a queryable table — the manifest is the
  commit record, mirroring pipeline/checkpoint.py's manifest posture.
* ``read_warc`` — a distributed source: ``binaryFile`` listing (the
  file is the split unit — exactly how CC jobs shard) ->
  ``mapInPandas`` opens each file task-locally and parses members ->
  ``(url, warc_ts, html)`` rows matching the BASELINE input schema,
  ready for ``run_pipeline`` with ``extract_from_html=True`` (text from
  functions/htmlx.py). Only paths cross the Arrow boundary by default (see
  read_warc for the measured why).

Scale notes (100 TB = ~100k CC WARC files at ~1 GB):
* the unit of parallelism is the file; CC's ~1 GB sizing keeps one
  task's working set bounded — document that, don't fight it.  Peak
  task memory is one compressed + one decompressed file (rows are
  yielded in ``BATCH_RECORDS`` slices so the Arrow side stays small);
  at CC sizing that is a few GB per task, the same budget real CC
  readers (warcio over ~1 GB shards) run with.
* no shuffle anywhere: read and write are both narrow.
* ``binaryFile`` has a 2 GiB per-file ceiling (Spark byte-array limit);
  real CC files sit safely under it.
"""

from __future__ import annotations

import gzip
import io
import os
import uuid
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_CRLF = b"\r\n"
_WARC_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"
BATCH_RECORDS = 1000  # response records per DataFrame a reader task yields

WARC_PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("warc_file", StringType()),
        StructField("record_offset", LongType()),
    ]
)

WARC_MANIFEST_SCHEMA = StructType(
    [
        StructField("warc_file", StringType(), False),
        StructField("n_records", LongType(), False),
        StructField("n_bytes", LongType(), False),
    ]
)


# --------------------------------------------------------------------------
# record rendering / parsing (pure functions; UDF-free on the Spark side)


def render_response_record(url: str, ts: datetime, html: bytes) -> bytes:
    """One uncompressed WARC/1.0 response record, deterministic in its
    inputs (record id is a UUIDv5 of the url+date, not a random v4)."""
    http = (
        b"HTTP/1.1 200 OK" + _CRLF
        + b"Content-Type: text/html; charset=utf-8" + _CRLF
        + b"Content-Length: " + str(len(html)).encode() + _CRLF
        + _CRLF
        + html
    )
    date = ts.strftime(_WARC_DATE_FMT)
    rid = uuid.uuid5(uuid.NAMESPACE_URL, f"{url}|{date}")
    headers = (
        b"WARC/1.0" + _CRLF
        + b"WARC-Type: response" + _CRLF
        + b"WARC-Record-ID: <urn:uuid:" + str(rid).encode() + b">" + _CRLF
        + b"WARC-Date: " + date.encode() + _CRLF
        + b"WARC-Target-URI: " + url.encode() + _CRLF
        + b"Content-Type: application/http; msgtype=response" + _CRLF
        + b"Content-Length: " + str(len(http)).encode() + _CRLF
        + _CRLF
    )
    return headers + http + _CRLF + _CRLF


def _gzip_member(record: bytes) -> bytes:
    buf = io.BytesIO()
    # mtime=0: gzip otherwise embeds wall-clock time in the member header
    # and file bytes stop being a pure function of the data
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(_CRLF)[1:]:  # [0] is the WARC/1.0 version line
        if not line:
            continue
        k, _, v = line.partition(b":")
        headers[k.strip().decode("ascii", "replace").lower()] = v.strip().decode(
            "utf-8", "replace"
        )
    return headers


def _gunzip_members(data: bytes, chunk: int = 1 << 18) -> bytes:
    """Concatenated-member gunzip via bounded-chunk zlib — 23x faster
    than ``gzip.decompress`` on CC-style files (measured 15.6 vs 360
    us/record on 8k-member shards).  Two stdlib pathologies avoided:
    ``gzip.decompress`` pays BufferedReader machinery per member, and a
    naive ``decompressobj.decompress(whole_tail)`` loop makes zlib copy
    the entire remaining file into ``unused_data`` at every member
    boundary — O(members x filesize) memcpy.  Feeding ≤256 KB slices
    bounds that copy per member."""
    import zlib

    out = []
    view = memoryview(data)
    n = len(data)
    pos = 0
    while pos < n:
        d = zlib.decompressobj(31)
        while not d.eof:
            end = min(pos + chunk, n)
            out.append(d.decompress(view[pos:end]))
            pos = end
            if d.eof:
                pos -= len(d.unused_data)
                break
            if end == n:
                break
    return b"".join(out)


def iter_warc_records(data: bytes) -> Iterator[tuple[int, dict[str, str], bytes]]:
    """Yield (member_offset, warc_headers, payload) from raw file bytes.

    Accepts both per-record-gzipped (CC layout; members decompressed one
    at a time) and plain concatenated-record files.
    """
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            break
        headers = _parse_headers(data[pos:head_end])
        length = int(headers.get("content-length", "0"))
        body_start = head_end + 4
        yield pos, headers, data[body_start : body_start + length]
        pos = body_start + length


def parse_response_payload(payload: bytes) -> bytes:
    """Strip the HTTP status line + headers from a response payload."""
    sep = payload.find(_CRLF + _CRLF)
    return payload[sep + 4 :] if sep >= 0 else payload


# --------------------------------------------------------------------------
# Spark surface


def write_warc(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
) -> DataFrame:
    """Distributed WARC sink: one ``.warc.gz`` per partition.

    Returns the manifest DataFrame (warc_file, n_records, n_bytes); the
    write happens when the manifest is materialized.  File names are
    keyed by partition ordinal so a re-run overwrites in place
    (idempotent, manifest-as-commit like pipeline/checkpoint.py).
    """
    sel = df.select(url_col, ts_col, html_col)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        n = 0
        # Attempt-unique temp name: a retried or speculative attempt of
        # the same partition must not interleave writes into one file —
        # each attempt writes privately, the atomic rename publishes
        # last-writer-wins (either attempt's output is complete/valid).
        tmp = f"{path}.attempt-{ctx.taskAttemptId()}.inprogress"
        os.makedirs(out_dir, exist_ok=True)
        with open(tmp, "wb") as f:
            for pdf in batches:
                for url, ts, html in zip(pdf[url_col], pdf[ts_col], pdf[html_col]):
                    ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                    rec = render_response_record(str(url), ts, bytes(html))
                    f.write(_gzip_member(rec))
                    n += 1
        try:
            os.replace(tmp, path)  # atomic publish
        except FileNotFoundError:
            # a concurrent attempt of this partition published first and
            # its post-publish sweep removed OUR temp — the output file
            # exists and is complete (every attempt writes the same
            # partition), so treat as already-published, don't fail the
            # task (a failed os.replace here consumed a retry and could
            # fail a job off a zombie first attempt)
            pass
        # best-effort sweep of orphaned temps from dead/losing attempts
        # of THIS partition (safe post-publish: a still-running
        # speculative twin is redundant once we've committed, and its
        # own os.replace tolerates the missing temp per above)
        import glob

        for stale in glob.glob(f"{path}.attempt-*.inprogress"):
            try:
                os.remove(stale)
            except OSError:
                pass
        yield pd.DataFrame(
            {"warc_file": [path], "n_records": [n], "n_bytes": [os.path.getsize(path)]}
        )

    return sel.mapInPandas(_write, WARC_MANIFEST_SCHEMA)


def read_warc(
    spark: SparkSession,
    path: str,
    via_content: bool = False,
) -> DataFrame:
    """Distributed WARC source: binaryFile listing -> per-file member
    parse -> page rows.

    Emits only ``response`` records (request/metadata/warcinfo records —
    present in real CC files — are skipped), with the html body separated
    from its HTTP envelope.

    By default only the PATH column crosses the JVM->Python Arrow
    boundary; each task opens its files with plain local I/O (the
    warcio-reader posture — requires the files on a filesystem every
    executor can open: local, NFS, or a FUSE-mounted object store).
    Shipping whole-file contents through Arrow instead
    (``via_content=True``, for object-store paths Python cannot open)
    measurably OOMs the 1 GiB netty direct-memory pool once ~32
    concurrent tasks each buffer multiple files both directions —
    that failure mode is why path-shipping is the default.
    """

    def _rows_from_bytes(fpath: str, data: bytes) -> Iterator[pd.DataFrame]:
        rows: list[dict] = []
        for off, headers, payload in iter_warc_records(data):
            if headers.get("warc-type") != "response":
                continue
            ts = datetime.strptime(headers["warc-date"], _WARC_DATE_FMT).replace(
                tzinfo=timezone.utc
            )
            rows.append(
                {
                    "url": headers.get("warc-target-uri"),
                    # tz-naive UTC: Spark TimestampType via Arrow
                    "warc_ts": ts.replace(tzinfo=None),
                    "html": parse_response_payload(payload),
                    "warc_file": fpath,
                    "record_offset": off,
                }
            )
            if len(rows) >= BATCH_RECORDS:
                yield pd.DataFrame(rows)
                rows = []
        if rows:
            yield pd.DataFrame(rows)

    if via_content:

        def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for fpath, content in zip(pdf["path"], pdf["content"]):
                    yield from _rows_from_bytes(fpath, bytes(content))

        files = spark.read.format("binaryFile").load(path).select("path", "content")
        return files.mapInPandas(_parse, WARC_PAGE_SCHEMA)

    def _parse_local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath in pdf["path"]:
                local = fpath[5:] if fpath.startswith("file:") else fpath
                with open(local, "rb") as f:
                    data = f.read()
                yield from _rows_from_bytes(fpath, data)

    files = spark.read.format("binaryFile").load(path).select("path")
    # binaryFile packs the listing into scan partitions by FILE bytes
    # (maxPartitionBytes + openCost) even though only paths are read —
    # 128 x 8 MB shards collapsed to ~13 tasks and ran a 32-core box 4x
    # under-parallelized (measured: 1M-doc rehearsal at 4.8k docs/s vs
    # 10k+ expected). The listing is just strings: hash-repartition it
    # so each task owns ~1-4 files regardless of their size, and the
    # whole downstream narrow chain (parse -> extract -> filter ->
    # scrub) inherits full parallelism.
    width = spark.sparkContext.defaultParallelism * 3
    return files.repartition(width, "path").mapInPandas(
        _parse_local, WARC_PAGE_SCHEMA
    )
