"""Stdlib WARC 1.0 source: the container format Common-Crawl-style pages
actually arrive in (reference analogue: the path-scan ingestion seam,
llmap.py:139-143 — here the "paths" are WARC archives instead of source
files).

Two halves, same discipline as the other kernels (total, deterministic,
stdlib-only, shared by tests and the Spark reader):

  parse_warc(data)   bytes of one (multi-member gzip or plain) WARC file
                     -> list of response records (url, warc_date, payload).
                     NEVER raises: malformed records are skipped, sizes are
                     capped, truncated files yield the records that fit.
  make_warc(records) deterministic writer (tests + the driver roundtrip
                     oracle): one gzip member per record, the layout
                     crawlers emit so member-level streaming works.

Spark shape (read_warc): `binaryFile` scan -> one task per WARC file ->
mapInPandas running parse_warc per file. WARC's gzip members are not
block-splittable, so FILE-level parallelism is the correct unit — exactly
how production crawl pipelines shard (many ~1 GB archives, one task
each); `binaryFile` loads a whole archive per task, so executor memory
must cover one archive (the standard contract for WARC processing).
"""

from __future__ import annotations

import gzip
import io
import re

MAX_WARC_BYTES = 2_000_000_000   # binaryFile's own per-file ceiling
MAX_RECORD_PAYLOAD = 8_000_000   # per-record body cap (kernel input cap x8)
MAX_RECORDS_PER_FILE = 1_000_000

# value group strips trailing [ \t]* too: 'WARC-Type: response ' (trailing
# blank before CRLF) must still compare equal to b'response', and
# WARC-Date/Target-URI values must not carry stray whitespace
_HDR_RE = re.compile(rb"^([A-Za-z0-9-]+):[ \t]*(.*?)[ \t]*\r?$", re.MULTILINE)


def _decompress(data: bytes) -> bytes:
    """Multi-member gzip -> concatenated WARC stream; plain data passes
    through. Total: a corrupt trailing member yields the prefix that
    decompressed."""
    if data[:2] != b"\x1f\x8b":
        return data
    out = io.BytesIO()
    try:
        with gzip.GzipFile(fileobj=io.BytesIO(data)) as g:
            while True:
                # read1, not read: read() buffers every member it reaches
                # and loses them all when a later member turns out
                # truncated; read1 hands over each chunk as it inflates
                chunk = g.read1(1 << 20)
                if not chunk:
                    break
                out.write(chunk)
                if out.tell() > MAX_WARC_BYTES:
                    break
    except Exception:
        pass  # truncated/corrupt member: keep what decompressed
    return out.getvalue()


def _parse_headers(block: bytes) -> dict[bytes, bytes]:
    return {m.group(1).lower(): m.group(2) for m in _HDR_RE.finditer(block)}


def parse_warc(data: bytes | None,
               record_type: bytes = b"response") -> list[tuple[str, str, bytes]]:
    """WARC file bytes -> [(url, warc_date_iso, payload_bytes)] for records
    of `record_type`, in file order ('response' for crawl archives,
    'conversion' for WET extracted-text archives). Other record kinds
    (request/metadata/warcinfo) are skipped; HTTP header blocks are
    stripped from response bodies (the payload is what the extraction
    kernel wants). Total on any bytes."""
    if not data:
        return []
    stream = _decompress(data[:MAX_WARC_BYTES])
    out: list[tuple[str, str, bytes]] = []
    pos = 0
    n = len(stream)
    while pos < n and len(out) < MAX_RECORDS_PER_FILE:
        start = stream.find(b"WARC/", pos)
        if start < 0:
            break
        hdr_end = stream.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            break
        headers = _parse_headers(stream[start:hdr_end])
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            pos = hdr_end + 4  # unparseable record: resync on next WARC/
            continue
        # cap what we KEEP, but advance pos by the FULL declared length:
        # skipping only the capped prefix of an oversized record would
        # rescan its payload tail as top-level WARC data — any 'WARC/'
        # bytes inside it (an archived .warc, a page about WARC) would be
        # emitted as genuine records with wrong provenance
        length = max(0, length)
        body = stream[hdr_end + 4:
                      hdr_end + 4 + min(length, MAX_RECORD_PAYLOAD)]
        pos = min(hdr_end + 4 + length, n)
        if headers.get(b"warc-type") != record_type:
            continue
        url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
        date = headers.get(b"warc-date", b"").decode("ascii", "replace")
        # response content is an HTTP message: strip its header block —
        # ONLY for response records (a conversion record's payload is the
        # extracted text itself, which may legitimately start with "HTTP/")
        if record_type == b"response" and body[:5] == b"HTTP/":
            he = body.find(b"\r\n\r\n")
            body = body[he + 4:] if he >= 0 else b""
        out.append((url, date, body))
    return out


def make_warc(records: list[tuple[str, str, bytes]],
              compress: bool = True) -> bytes:
    """[(url, warc_date_iso, payload)] -> WARC bytes, one gzip member per
    response record (the crawler layout). Deterministic."""
    out = io.BytesIO()
    for url, date, payload in records:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Length: " + str(len(payload)).encode()
                + b"\r\n\r\n" + payload)
        rec = (b"WARC/1.0\r\n"
               b"WARC-Type: response\r\n"
               b"WARC-Target-URI: " + url.encode("utf-8") + b"\r\n"
               b"WARC-Date: " + date.encode("ascii") + b"\r\n"
               b"Content-Type: application/http; msgtype=response\r\n"
               b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
               + http + b"\r\n\r\n")
        if compress:
            # mtime=0: deterministic bytes (gzip embeds a timestamp)
            out.write(gzip.compress(rec, mtime=0))
        else:
            out.write(rec)
    return out.getvalue()


def make_wet(records: list[tuple[str, str, str]]) -> bytes:
    """[(url, warc_date_iso, extracted_text)] -> WET bytes: WARC 1.0
    'conversion' records, one gzip member each — the Common Crawl
    extracted-text deliverable format. Deterministic (mtime=0)."""
    out = io.BytesIO()
    for url, date, text in records:
        payload = (text or "").encode("utf-8")
        rec = (b"WARC/1.0\r\n"
               b"WARC-Type: conversion\r\n"
               b"WARC-Target-URI: " + url.encode("utf-8") + b"\r\n"
               b"WARC-Date: " + date.encode("ascii") + b"\r\n"
               b"Content-Type: text/plain\r\n"
               b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
               + payload + b"\r\n\r\n")
        out.write(gzip.compress(rec, mtime=0))
    return out.getvalue()


def write_wet(df, out_dir: str,
              url_col: str = "url", ts_col: str = "warc_ts",
              text_col: str = "extracted_text") -> int:
    """Distributed WET sink: one `part-{partition}.warc.wet.gz` archive per
    Spark partition, written FROM THE EXECUTORS (foreachPartition — no
    driver collect). Returns the number of partitions written.

    Filesystem contract: `out_dir` must be visible to BOTH driver and
    executors at the same path (local mode trivially; on a cluster a
    shared mount — NFS, fuse-mounted object store). Plain open()/rename
    is the mechanism, so a non-shared path would scatter output across
    executor-local disks; object-store-native output belongs to the
    parquet snapshot sink.

    Stale parts from a PREVIOUS run are removed first: a re-run that
    plans fewer partitions would otherwise leave orphan archives carrying
    outdated records in the deliverable (and inflate the returned count).
    For commit-or-nothing semantics wrap the directory with the snapshot
    layer's manifest pattern."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    for stale in _glob.glob(os.path.join(out_dir, "part-*.warc.wet.gz")):
        os.remove(stale)
    sel = df.select(
        F.col(url_col).alias("u"),
        F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("d"),
        F.col(text_col).alias("t"),
        F.spark_partition_id().alias("p"))

    def dump(rows) -> None:
        recs = []
        pid = None
        for r in rows:
            pid = r.p
            recs.append((r.u, r.d or "1970-01-01T00:00:00Z", r.t or ""))
        if pid is None:
            return
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.wet.gz")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(make_wet(recs))
        os.replace(tmp, path)  # atomic per-file commit

    sel.foreachPartition(dump)
    import glob as _glob
    return len(_glob.glob(os.path.join(out_dir, "part-*.warc.wet.gz")))


def _warc_ts(col_name: str):
    """WARC-Date string -> timestamp, total: WARC 1.1 fractional seconds
    are truncated (the engine's integer-second convention), and a
    malformed date yields NULL instead of an ANSI parse error killing the
    job. Callers must run with spark.sql.session.timeZone=UTC (get_spark
    pins it; the spark-submit CLIs set it explicitly) — the 'Z' is a
    pattern literal, so a non-UTC session would silently shift every
    crawl timestamp."""
    from pyspark.sql import functions as F

    whole = F.regexp_replace(F.col(col_name), r"\.\d+Z$", "Z")
    return F.try_to_timestamp(whole, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'"))


def read_wet(spark, path: str):
    """WET archives under `path` -> DataFrame(url, warc_ts, extracted_text,
    wet_path): the inverse of write_wet, so a WET deliverable round-trips
    back into the engine (e.g. feeding the curation chain without
    re-extracting). Same one-task-per-archive scan as read_warc
    (gzip members are not block-splittable); conversion-record payloads
    decode as UTF-8 with replacement (total on any bytes)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    files = spark.read.format("binaryFile").load(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "warc_date": [], "extracted_text": [],
                    "wet_path": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                for url, date, payload in parse_warc(
                        content, record_type=b"conversion"):
                    rows["url"].append(url)
                    rows["warc_date"].append(date)
                    rows["extracted_text"].append(
                        payload.decode("utf-8", "replace"))
                    rows["wet_path"].append(p)
            yield pd.DataFrame(rows)

    parsed = files.select("path", "content").mapInPandas(
        parse,
        "url string, warc_date string, extracted_text string, "
        "wet_path string")
    return parsed.select(
        "url", _warc_ts("warc_date").alias("warc_ts"),
        "extracted_text", "wet_path")


def read_warc(spark, path: str):
    """WARC archives under `path` -> DataFrame(url, warc_ts, html, warc_path).

    One task per archive (binaryFile scan; WARC gzip members are not
    block-splittable mid-member) running the SAME parse_warc the tests
    pin — `warc_path` rides along for lineage, mirroring the pages table
    schema otherwise so `plans.pipeline.extract` consumes the result
    directly."""
    from collections.abc import Iterator

    import pandas as pd

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "warc_date": [], "html": [], "warc_path": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                for url, date, payload in parse_warc(content):
                    rows["url"].append(url)
                    rows["warc_date"].append(date)
                    rows["html"].append(payload)
                    rows["warc_path"].append(p)
            yield pd.DataFrame(rows)

    files = spark.read.format("binaryFile").load(path)
    parsed = files.select("path", "content").mapInPandas(
        parse, "url string, warc_date string, html binary, warc_path string")
    return parsed.select(
        "url", _warc_ts("warc_date").alias("warc_ts"), "html", "warc_path")
