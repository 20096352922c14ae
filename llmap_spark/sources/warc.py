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


def gzip_member_offsets(f, max_members: int = MAX_RECORDS_PER_FILE) -> list[int]:
    """Absolute byte offsets at which each gzip member ENDS, by streaming
    the file through zlib with BOUNDED memory (1 MB input blocks, 1 MB
    output windows, output discarded — indexing a multi-GB archive never
    buffers it). Gzip carries no member-length field, so one decompression
    pass is the only way to find boundaries; this is the 'offset index
    pass' that makes oversized archives splittable at member boundaries.
    Total: a truncated/corrupt tail yields the members indexed so far;
    non-gzip input yields []."""
    import zlib

    ends: list[int] = []
    base = 0          # absolute offset of buf[0]
    buf = b""
    d = zlib.decompressobj(31)
    while True:
        if not buf:
            buf = f.read(1 << 20)
            if not buf:
                break
        try:
            d.decompress(buf, 1 << 20)
        except zlib.error:
            break
        if d.eof:
            rem = d.unused_data
            end = base + (len(buf) - len(rem))
            ends.append(end)
            if len(ends) >= max_members:
                break
            buf = rem
            base = end
            d = zlib.decompressobj(31)
            continue
        tail = d.unconsumed_tail
        if tail:
            # output-window-limited: keep draining the same input
            base += len(buf) - len(tail)
            buf = tail
            continue
        base += len(buf)
        buf = b""
    return ends


def _member_chunks(path: str, target_chunk_bytes: int) -> list[tuple[int, int]]:
    """Group consecutive gzip members of `path` into (start, length) spans
    of ~target_chunk_bytes compressed size (always whole members, so each
    span is a valid multi-member gzip stream).

    NON-GZIP fallback: an oversized PLAIN (uncompressed) WARC has no gzip
    members, so gzip_member_offsets returns [] — yielding no chunks would
    SILENTLY DROP the whole file from the split route while the default
    binaryFile route parses it fine. Emit one whole-file span instead:
    parse_warc handles plain WARC via the _decompress pass-through, so the
    file still contributes its rows (as a single task — plain WARC has no
    cheap record-boundary index; that one fat task is the price of an
    uncompressed archive, not data loss)."""
    import os

    with open(path, "rb") as f:
        ends = gzip_member_offsets(f)
    if not ends:
        size = os.path.getsize(path)
        return [(0, size)] if size else []
    chunks: list[tuple[int, int]] = []
    start = 0
    for e in ends:
        if e - start >= target_chunk_bytes:
            chunks.append((start, e - start))
            start = e
    if ends and ends[-1] > start:
        chunks.append((start, ends[-1] - start))
    return chunks


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
    back into the engine (e.g. feeding the scrub/dedup/sampling family
    without re-extracting). Same one-task-per-archive scan as read_warc
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


_WARC_ROWS_SCHEMA = ("url string, warc_date string, html binary, "
                     "warc_path string")


def _parse_warc_batches(batches):
    """mapInPandas body shared by the batch and streaming readers: rows of
    (path, content) -> parsed response records."""
    import pandas as pd

    for pdf in batches:
        rows = {"url": [], "warc_date": [], "html": [], "warc_path": []}
        for p, content in zip(pdf["path"], pdf["content"]):
            for url, date, payload in parse_warc(content):
                rows["url"].append(url)
                rows["warc_date"].append(date)
                rows["html"].append(payload)
                rows["warc_path"].append(p)
        yield pd.DataFrame(rows)


def _finish_warc_df(parsed):
    return parsed.select(
        "url", _warc_ts("warc_date").alias("warc_ts"),
        "html", "warc_path")


def read_warc(spark, path: str, split_threshold: int | None = None,
              target_chunk_bytes: int = 128 << 20):
    """WARC archives under `path` -> DataFrame(url, warc_ts, html, warc_path).

    Default shape: one task per archive (binaryFile scan; WARC gzip
    members are not block-splittable mid-member) running the SAME
    parse_warc the tests pin — `warc_path` rides along for lineage,
    mirroring the pages table schema otherwise so
    `plans.pipeline.extract` consumes the result directly.

    SKEW GUARD (split_threshold=<bytes>): archives LARGER than the
    threshold are split at gzip-MEMBER boundaries so one multi-GB archive
    no longer pins a single task's memory and wall-clock. Two extra
    stages, both distributed: (1) an offset index pass — one task per
    oversized file streams it through zlib with bounded memory and
    groups members into ~target_chunk_bytes spans (gzip has no member
    length field, so one decompression pass is the only way to find the
    boundaries); (2) ranged reads — each span seeks/reads only its bytes
    and parses them with the same kernel, so a valid multi-member slice
    yields byte-identical records to the whole-file parse (pinned by
    tests/test_warc.py::test_split_read_matches_whole_read). Files at or
    under the threshold keep the one-task binaryFile route.

    The split path opens files by PATH from executors, so `path` must be
    a driver+executor-visible mount (the write_wet shared-FS contract);
    the default route has no such requirement. Caps (MAX_RECORDS_PER_FILE
    etc.) apply per scan unit — per chunk when splitting."""
    from collections.abc import Iterator

    import pandas as pd

    parse = _parse_warc_batches

    if split_threshold is None:
        files = spark.read.format("binaryFile").load(path)
        return _finish_warc_df(
            files.select("path", "content").mapInPandas(
                parse, _WARC_ROWS_SCHEMA))

    import glob as _glob
    import os

    pattern = os.path.join(path, "*") if os.path.isdir(path) else path
    paths = sorted(p for p in _glob.glob(pattern) if os.path.isfile(p))
    small = [p for p in paths if os.path.getsize(p) <= split_threshold]
    large = [p for p in paths if os.path.getsize(p) > split_threshold]
    parts = []
    if small:
        # explicit file: scheme — these paths came from a DRIVER-LOCAL
        # glob (the split path's shared-mount contract), so they must not
        # resolve against fs.defaultFS (hdfs:// on a real cluster would
        # read a different namespace than the large-file open() branch)
        files = spark.read.format("binaryFile").load(
            ["file://" + os.path.abspath(p) for p in small])
        parts.append(files.select("path", "content").mapInPandas(
            parse, _WARC_ROWS_SCHEMA))
    if large:
        chunk_target = target_chunk_bytes

        def index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = {"path": [], "start": [], "length": []}
                for p in pdf["path"]:
                    for s, ln in _member_chunks(p, chunk_target):
                        rows["path"].append(p)
                        rows["start"].append(s)
                        rows["length"].append(ln)
                yield pd.DataFrame(rows)

        def parse_ranges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = {"url": [], "warc_date": [], "html": [],
                        "warc_path": []}
                for p, s, ln in zip(pdf["path"], pdf["start"],
                                    pdf["length"]):
                    with open(p, "rb") as f:
                        f.seek(int(s))
                        blob = f.read(int(ln))
                    # 'file:' + absolute path matches binaryFile's URI
                    # spelling so both routes emit identical lineage
                    uri = "file:" + os.path.abspath(p)
                    for url, date, payload in parse_warc(blob):
                        rows["url"].append(url)
                        rows["warc_date"].append(date)
                        rows["html"].append(payload)
                        rows["warc_path"].append(uri)
                yield pd.DataFrame(rows)

        idx_in = spark.createDataFrame(
            [(p,) for p in large], "path string").repartition(len(large))
        chunks = idx_in.mapInPandas(index, "path string, start long, length long")
        # spread chunk parses across the cluster: the tiny (path, start)
        # rows shuffle, the archive bytes never do
        chunks = chunks.repartition("path", "start")
        parts.append(chunks.mapInPandas(parse_ranges, _WARC_ROWS_SCHEMA))
    if not parts:
        empty = spark.createDataFrame([], _WARC_ROWS_SCHEMA)
        return _finish_warc_df(empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _finish_warc_df(out)


def read_warc_stream(spark, path: str, glob: str | None = None):
    """STREAMING WARC ingest: archives dropped into `path` after the query
    starts are picked up incrementally (binaryFile file-stream source —
    each file processed exactly once, tracked by the sink checkpoint)
    through the SAME parse_warc kernel as the batch reader, so stream and
    batch rows are byte-identical per archive. The
    crawl-arrives-continuously shape: compose with
    plans.pipeline.extract (a stateless per-row map lifts to readStream
    unchanged) and a parquet sink + checkpointLocation for exactly-once
    end-to-end. One task per archive, as in batch; the split_threshold
    skew guard is batch-only (a streaming ranged read would need its own
    source).

    `glob` defaults to None = ingest EVERY file, matching the batch
    reader exactly (parse_warc is total: a non-WARC file yields zero
    rows, not an error). Pass e.g. '*.warc.gz' to skip in-progress
    uploads — but note the file-stream source processes each PATH once,
    so a file later rewritten in place is NOT re-read; writers must
    follow the write-to-tmp-then-rename convention either way."""
    # file-stream sources require an explicit schema; binaryFile's is fixed
    reader = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp, "
                      "length long, content binary"))
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path)
    parsed = files.select("path", "content").mapInPandas(
        _parse_warc_batches, _WARC_ROWS_SCHEMA)
    return _finish_warc_df(parsed)
