"""WARC source: kernel roundtrips + totality + the Spark reader."""

from __future__ import annotations

import gzip

import pytest

from llmap_spark.sources import warc


def test_roundtrip_compressed_and_plain():
    recs = [("https://a.example/x", "2025-01-01T00:00:00Z", b"<p>one</p>"),
            ("https://b.example/y", "2025-01-01T00:00:07Z", b"<p>two</p>")]
    for compress in (True, False):
        got = warc.parse_warc(warc.make_warc(recs, compress=compress))
        assert got == recs


def test_writer_is_deterministic():
    recs = [("https://a.example/x", "2025-01-01T00:00:00Z", b"abc")]
    assert warc.make_warc(recs) == warc.make_warc(recs)


def test_non_response_records_skipped():
    body = b"software: test"
    rec = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: "
           + str(len(body)).encode() + b"\r\n\r\n" + body + b"\r\n\r\n")
    data = rec + warc.make_warc(
        [("https://a/x", "2025-01-01T00:00:00Z", b"hi")], compress=False)
    got = warc.parse_warc(data)
    assert got == [("https://a/x", "2025-01-01T00:00:00Z", b"hi")]


def test_total_on_garbage_and_truncation():
    recs = [("https://a/x", "2025-01-01T00:00:00Z", b"payload here")]
    full = warc.make_warc(recs)
    for data in (None, b"", b"\x00" * 100, b"WARC/1.0\r\njunk",
                 full[: len(full) // 2],             # truncated member
                 full + b"\x1f\x8b\x00garbage"):     # corrupt tail member
        warc.parse_warc(data)  # must not raise
    # bad content-length resyncs instead of aborting the file
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: zap\r\n\r\n"
           + warc.make_warc(recs, compress=False))
    assert warc.parse_warc(bad) == recs


def test_payload_cap():
    big = b"x" * (warc.MAX_RECORD_PAYLOAD + 100)
    got = warc.parse_warc(warc.make_warc(
        [("https://a/x", "2025-01-01T00:00:00Z", big)], compress=False))
    # capped, never unbounded; (the truncated record is still emitted)
    assert len(got) == 1 and len(got[0][2]) <= warc.MAX_RECORD_PAYLOAD


def test_spark_reader_roundtrips_pages(spark, tmp_path):
    """Archives written from the pages corpus read back byte-identical html
    per url, and the result feeds the extraction pipeline directly."""
    from llmap_spark.corpus import pages_path_for
    from llmap_spark.plans.pipeline import ExtractConfig, extract

    pages = spark.read.parquet(pages_path_for("/root/testdata/sf0.001")) \
        .limit(300).collect()
    # shard into 4 archives like a crawl segment
    for shard in range(4):
        recs = [(r.url, r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                 bytes(r.html)) for i, r in enumerate(pages)
                if i % 4 == shard]
        (tmp_path / f"seg-{shard:05d}.warc.gz").write_bytes(
            warc.make_warc(recs))
    df = warc.read_warc(spark, str(tmp_path))
    got = {r.url: bytes(r.html) for r in df.collect()}
    want = {r.url: bytes(r.html) for r in pages}
    assert got == want
    # 4 archives -> the binaryFile scan gives file-level parallelism
    assert df.select("warc_path").distinct().count() == 4
    # and the pipeline consumes the reader's output schema directly
    ex = extract(df.withColumn("lang", df.url.substr(1, 0)), ExtractConfig())
    assert ex.count() == len(want)


def test_gzip_member_offsets_align_with_records():
    """The offset index finds exactly the make_warc member boundaries,
    streaming (never loading the archive whole)."""
    import io

    recs = [(f"https://x.example/{i}", "2025-01-01T00:00:00Z",
             b"p" * (100 + i)) for i in range(20)]
    blob = warc.make_warc(recs)
    ends = warc.gzip_member_offsets(io.BytesIO(blob))
    assert len(ends) == 20
    assert ends[-1] == len(blob)
    # each boundary starts a fresh gzip magic (or is EOF)
    for e in ends[:-1]:
        assert blob[e:e + 2] == b"\x1f\x8b"
    # truncated tail: members before the cut still index
    cut = ends[9] + 5
    assert warc.gzip_member_offsets(io.BytesIO(blob[:cut])) == ends[:10]
    # non-gzip input: total, empty
    assert warc.gzip_member_offsets(io.BytesIO(b"not gzip at all")) == []


def test_split_read_matches_whole_read(spark, tmp_path):
    """The oversized-archive skew guard: a planted fat archive scans as
    MULTIPLE tasks (member-boundary chunks) with output identical to the
    one-task whole-file route — url, bytes, timestamp, and lineage path
    all byte-equal."""
    from pyspark.sql import functions as F

    recs = [(f"https://fat.example/doc{i}", "2025-01-01T00:00:00Z",
             (f"<html><body><p>payload {i} " + "x" * 400 + "</p></body></html>")
             .encode()) for i in range(64)]
    fat = tmp_path / "fat-00000.warc.gz"
    fat.write_bytes(warc.make_warc(recs))
    small_recs = recs[:3]
    small = tmp_path / "small-00000.warc.gz"
    small.write_bytes(warc.make_warc(small_recs))

    whole = warc.read_warc(spark, str(tmp_path))
    split = warc.read_warc(spark, str(tmp_path),
                           split_threshold=small.stat().st_size,
                           target_chunk_bytes=4096)

    def rows(df):
        return sorted((r.url, bytes(r.html), r.warc_ts, r.warc_path)
                      for r in df.collect())

    assert rows(split) == rows(whole)
    # the fat archive really was split: its records came from >1 task
    n_tasks = (split.filter(F.col("url").like("https://fat.example/%"))
               .select(F.spark_partition_id().alias("pid"))
               .distinct().count())
    assert n_tasks > 1
    # and the chunk index is member-aligned (no partial members)
    chunks = warc._member_chunks(str(fat), 4096)
    assert len(chunks) > 1
    assert chunks[0][0] == 0
    assert sum(ln for _, ln in chunks) == fat.stat().st_size
    for s, ln in chunks:
        blob = fat.read_bytes()[s:s + ln]
        assert blob[:2] == b"\x1f\x8b"


def test_oversized_plain_warc_not_dropped_by_split_route(spark, tmp_path):
    """An UNCOMPRESSED .warc above split_threshold has no gzip members to
    index — the split route must fall back to one whole-file chunk (same
    rows as the default route), never silently contribute zero rows."""
    recs = [(f"https://plain.example/doc{i}", "2025-01-01T00:00:00Z",
             (f"<html><body><p>plain {i} " + "y" * 300 + "</p></body></html>")
             .encode()) for i in range(16)]
    p = tmp_path / "plain-00000.warc"
    p.write_bytes(warc.make_warc(recs, compress=False))

    # unit: the chunk index itself yields the whole-file span
    assert warc._member_chunks(str(p), 4096) == [(0, p.stat().st_size)]

    whole = warc.read_warc(spark, str(tmp_path))
    split = warc.read_warc(spark, str(tmp_path), split_threshold=1024,
                           target_chunk_bytes=4096)

    def rows(df):
        return sorted((r.url, bytes(r.html), r.warc_ts, r.warc_path)
                      for r in df.collect())

    got = rows(split)
    assert got == rows(whole)
    assert len(got) == len(recs)


def test_warc_stream_incremental_pickup(spark, tmp_path):
    """Streaming WARC ingest: archives dropped AFTER the query starts are
    parsed incrementally through the same kernel, with rows identical to
    the batch reader's."""
    src = tmp_path / "drop"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def shard(k, n):
        recs = [(f"https://s{k}.example/doc{i}", "2025-01-01T00:00:00Z",
                 f"<html><body><p>rec {k}-{i}</p></body></html>".encode())
                for i in range(n)]
        (src / f"seg-{k:05d}.warc.gz").write_bytes(warc.make_warc(recs))

    shard(0, 5)
    q = (warc.read_warc_stream(spark, str(src))
         .writeStream.format("parquet").outputMode("append")
         .option("path", out).option("checkpointLocation", ckpt)
         .queryName("warc_stream_test").start())
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 5
        shard(1, 7)  # arrives mid-stream
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.url: bytes(r.html)
           for r in spark.read.parquet(out).collect()}
    want = {r.url: bytes(r.html)
            for r in warc.read_warc(spark, str(src)).collect()}
    assert got == want and len(got) == 12


def test_wet_sink_roundtrips_extraction(spark, tmp_path):
    """extract -> write_wet (per-partition executor-side archives) ->
    parse_warc(conversion) reads the extracted text back byte-identical
    per url — the crawl-native export path end-to-end."""
    from llmap_spark.corpus import pages_path_for
    from llmap_spark.plans.pipeline import ExtractConfig, extract

    pages = spark.read.parquet(pages_path_for("/root/testdata/sf0.001")) \
        .limit(200)
    ex = extract(pages, ExtractConfig()).select(
        "url", "warc_ts", "extracted_text")
    out = tmp_path / "wet"
    n_parts = warc.write_wet(ex, str(out))
    assert n_parts >= 1
    got = {}
    for f in sorted(out.glob("part-*.warc.wet.gz")):
        for url, _, payload in warc.parse_warc(
                f.read_bytes(), record_type=b"conversion"):
            got[url] = payload.decode("utf-8")
    want = {r.url: r.extracted_text for r in ex.collect()}
    assert got == want
    # and the distributed reader re-ingests the deliverable identically
    back = {r.url: r.extracted_text
            for r in warc.read_wet(spark, str(out / "*.warc.wet.gz"))
            .collect()}
    assert back == want


def test_oversized_record_payload_not_rescanned_as_warc():
    """pos must advance by the FULL declared length of an oversized
    record: skipping only the capped prefix re-scans the payload tail,
    and any 'WARC/' bytes inside it (an archived .warc, a page about
    WARC) would be emitted as spurious top-level records."""
    inner = (b"WARC/1.0\r\nWARC-Type: response\r\n"
             b"WARC-Target-URI: https://fake.example/injected\r\n"
             b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
             b"Content-Length: 2\r\n\r\nhi\r\n\r\n")
    # payload: 8MB of filler, then an embedded WARC record past the cap
    big = b"x" * (warc.MAX_RECORD_PAYLOAD + 100) + inner
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://real.example/big\r\n"
           b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
           b"Content-Length: " + str(len(big)).encode() + b"\r\n\r\n"
           + big + b"\r\n\r\n")
    got = warc.parse_warc(rec)
    assert [u for u, _, _ in got] == ["https://real.example/big"]
    assert len(got[0][2]) == warc.MAX_RECORD_PAYLOAD  # kept = capped


def test_warc_date_fractional_seconds_truncate(spark, tmp_path):
    """WARC 1.1 fractional-second dates parse (truncated to the second)
    instead of nulling warc_ts; malformed dates yield NULL, not an ANSI
    job failure."""
    recs = [("https://a.example/1", "2024-03-01T12:00:05.123456Z", b"x"),
            ("https://a.example/2", "2024-03-01T12:00:05Z", b"y"),
            ("https://a.example/3", "not-a-date", b"z")]
    p = tmp_path / "f.warc.gz"
    p.write_bytes(warc.make_warc(recs))
    got = {r.url: r.warc_ts
           for r in warc.read_warc(spark, str(p)).collect()}
    assert got["https://a.example/1"] == got["https://a.example/2"]
    assert got["https://a.example/1"] is not None
    assert got["https://a.example/3"] is None


def test_wet_text_starting_with_http_survives():
    """The HTTP-header strip is a RESPONSE-record rule: a conversion
    record whose extracted text begins with 'HTTP/' must come back
    verbatim, not emptied/truncated by the header heuristic."""
    texts = ["HTTP/2 is a protocol revision described here",
             "HTTP/1.1 pipelining\r\n\r\nwas rarely deployed"]
    data = warc.make_wet([(f"https://d{i}.example/p", "2024-01-01T00:00:00Z",
                           t) for i, t in enumerate(texts)])
    got = [p.decode("utf-8") for _, _, p in
           warc.parse_warc(data, record_type=b"conversion")]
    assert got == texts


def test_run_extract_cli_warc_to_wet(spark, tmp_path):
    """The full crawl-native CLI path: WARC archives in -> snapshot commit
    (resumable) -> WET archives out, with re-run a no-op."""
    import json

    from llmap_spark.corpus import pages_path_for
    from llmap_spark.run_extract import main

    pages = spark.read.parquet(pages_path_for("/root/testdata/sf0.001")) \
        .limit(120).collect()
    wdir = tmp_path / "warc"; wdir.mkdir()
    for shard in range(3):
        recs = [(r.url, r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                 bytes(r.html)) for i, r in enumerate(pages)
                if i % 3 == shard]
        (wdir / f"seg-{shard:05d}.warc.gz").write_bytes(warc.make_warc(recs))
    out = tmp_path / "snap"; wet = tmp_path / "wet"
    rc = main(["--input", str(wdir), "--input-format", "warc",
               "--output", str(out), "--export-wet", str(wet),
               "--cores", "8"])
    assert rc == 0
    # committed rows == archive records; WET archives exist and read back
    got = {}
    for f in sorted(wet.glob("part-*.warc.wet.gz")):
        for url, _, payload in warc.parse_warc(
                f.read_bytes(), record_type=b"conversion"):
            got[url] = payload.decode("utf-8")
    assert len(got) == len(pages)
    # re-run: resume makes it a no-op commit
    rc2 = main(["--input", str(wdir), "--input-format", "warc",
                "--output", str(out), "--cores", "8"])
    assert rc2 == 0


DATE = "2024-01-01T00:00:00Z"


def _rec(body: bytes, wtype: bytes = b"response",
         url: bytes = b"https://a.example/x", length: bytes | None = None,
         headers: list[bytes] | None = None) -> bytes:
    """One plain WARC record; `headers` replaces the default header lines."""
    if headers is None:
        headers = [b"WARC-Type: " + wtype, b"WARC-Target-URI: " + url,
                   b"WARC-Date: " + DATE.encode(), b"Content-Length: "
                   + (str(len(body)).encode() if length is None else length)]
    return (b"WARC/1.0\r\n" + b"".join(h + b"\r\n" for h in headers)
            + b"\r\n" + body + b"\r\n\r\n")


REAL = _rec(b"<p>real</p>", url=b"https://real.example/")
REAL_ROW = ("https://real.example/", DATE, b"<p>real</p>")
# a complete record hidden in the payload tail of an oversized record
_INNER = _rec(b"hi", url=b"https://fake.example/injected")
_BIG = b"x" * (warc.MAX_RECORD_PAYLOAD + 100) + _INNER
_TWO_MEMBERS = warc.make_warc([("https://a.example/1", DATE, b"one"),
                               ("https://a.example/2", DATE, b"two")])
_ONE_MEMBER = warc.make_warc([("https://a.example/1", DATE, b"one")])

# case -> (WARC bytes, record_type, expected parse_warc rows)
PARSE_CASES = {
    "header_value_trailing_blanks": (
        _rec(b"hi", headers=[b"WARC-Type: response \t",
                             b"WARC-Target-URI: https://a.example/x  ",
                             b"WARC-Date: " + DATE.encode() + b" ",
                             b"Content-Length: 2 "]),
        b"response", [("https://a.example/x", DATE, b"hi")]),
    "lower_case_header_names": (
        _rec(b"hi", headers=[b"warc-type: response",
                             b"warc-target-uri: https://a.example/x",
                             b"warc-date: " + DATE.encode(),
                             b"content-length: 2"]),
        b"response", [("https://a.example/x", DATE, b"hi")]),
    "upper_case_header_names": (
        _rec(b"hi", headers=[b"WARC-TYPE: response",
                             b"WARC-TARGET-URI: https://a.example/x",
                             b"WARC-DATE: " + DATE.encode(),
                             b"CONTENT-LENGTH: 2"]),
        b"response", [("https://a.example/x", DATE, b"hi")]),
    "missing_uri_and_date": (
        _rec(b"hi", headers=[b"WARC-Type: response", b"Content-Length: 2"]),
        b"response", [("", "", b"hi")]),
    "non_utf8_target_uri": (
        _rec(b"hi", url=b"https://a.example/\xff"),
        b"response", [("https://a.example/\ufffd", DATE, b"hi")]),
    "non_ascii_date": (
        _rec(b"hi", headers=[b"WARC-Type: response",
                             b"WARC-Date: 2024-01-01\xc3\xa9",
                             b"Content-Length: 2"]),
        b"response", [("", "2024-01-01\ufffd\ufffd", b"hi")]),
    "negative_content_length": (
        _rec(b"", length=b"-999999") + REAL,
        b"response", [("https://a.example/x", DATE, b""), REAL_ROW]),
    "non_numeric_content_length": (
        _rec(b"<p>bad</p>", length=b"10abc") + REAL,
        b"response", [REAL_ROW]),
    "missing_content_length": (
        _rec(b"<p>bad</p>", headers=[b"WARC-Type: response"]) + REAL,
        b"response", [REAL_ROW]),
    "http_header_stripped": (
        _rec(b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"),
        b"response", [("https://a.example/x", DATE, b"<p>hi</p>")]),
    "http_header_without_terminator": (
        _rec(b"HTTP/1.1 200 OK\r\nContent-Type: text/html"),
        b"response", [("https://a.example/x", DATE, b"")]),
    "conversion_text_starting_with_http": (
        _rec(b"HTTP/1.1 is old\r\n\r\ntext", wtype=b"conversion"),
        b"conversion",
        [("https://a.example/x", DATE, b"HTTP/1.1 is old\r\n\r\ntext")]),
    "other_record_types_skipped": (
        _rec(b"GET / HTTP/1.1", wtype=b"request")
        + _rec(b"k: v", wtype=b"metadata")
        + _rec(b"software: x", wtype=b"warcinfo")
        + _rec(b"text", wtype=b"conversion") + REAL,
        b"response", [REAL_ROW]),
    "record_type_selects_conversion": (
        REAL + _rec(b"text", wtype=b"conversion"),
        b"conversion", [("https://a.example/x", DATE, b"text")]),
    "truncated_last_gzip_member": (
        _TWO_MEMBERS[:len(_ONE_MEMBER) + 30],
        b"response", [("https://a.example/1", DATE, b"one")]),
    "oversized_record_then_real": (
        _rec(_BIG, url=b"https://big.example/") + REAL,
        b"response",
        [("https://big.example/", DATE, _BIG[:warc.MAX_RECORD_PAYLOAD]),
         REAL_ROW]),
}


@pytest.mark.parametrize("case", PARSE_CASES)
def test_parse_warc_record(case):
    data, record_type, want = PARSE_CASES[case]
    assert warc.parse_warc(data, record_type=record_type) == want


# extracted text make_wet writes; parse_warc must read back `text or ""`
WET_TEXT = {
    "empty": "",
    "none": None,
    "non_ascii": "Grüße aus Köln, 東京, naïve café",
    "crlf": "line one\r\nline two\r\n\r\nafter a blank line\r\n",
    "embedded_record": _rec(b"hi", wtype=b"conversion").decode("ascii"),
}


@pytest.mark.parametrize("case", WET_TEXT)
def test_make_wet_roundtrip(case):
    text = WET_TEXT[case]
    data = warc.make_wet([("https://a.example/x", DATE, text)])
    got = [(u, d, p.decode("utf-8")) for u, d, p in
           warc.parse_warc(data, record_type=b"conversion")]
    assert got == [("https://a.example/x", DATE, text or "")]
