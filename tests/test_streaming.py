"""Structured Streaming twins: stream result == batch result on the same
parquet input (memory sink + processAllAvailable drives the stream to
completion synchronously)."""

from __future__ import annotations

import shutil
from pathlib import Path

from llmap_spark.streaming.windowed import (
    extract_stream, windowed_counts_batch, windowed_counts_stream)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _as_dir(src: str, dst: Path) -> str:
    """Streaming file sources require a directory, not a bare file."""
    if Path(src).is_dir():
        return src
    dst.mkdir(parents=True, exist_ok=True)
    shutil.copy(src, dst / Path(src).name)
    return str(dst)


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    src = _as_dir(EVENTS, tmp_path / "events")
    # 'complete' deliberately: bounded test input, final table must equal
    # the batch twin exactly (update/append are the real-stream modes —
    # see the operator docstring)
    q = windowed_counts_stream(spark, src, minutes=5,
                               query_name="wc_test", output_mode="complete")
    try:
        q.processAllAvailable()
        got = {(r.win_start, r.event_type): (r.n_events, r.sum_micros)
               for r in spark.sql("SELECT * FROM wc_test").collect()}
    finally:
        q.stop()
    events = spark.read.parquet(EVENTS)
    want = {(r.win_start, r.event_type): (r.n_events, r.sum_micros)
            for r in windowed_counts_batch(events, minutes=5).collect()}
    assert got == want
    assert len(want) > 10


def test_extract_stream_matches_batch(spark, pages_smoke, tmp_path):
    from llmap_spark.plans.pipeline import ExtractConfig, extract

    src = _as_dir(pages_smoke, tmp_path / "pages")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = extract_stream(spark, src, out, ckpt,
                       ExtractConfig(), query_name="ex_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.url: (r.extracted_text, r.status)
           for r in spark.read.parquet(out)
           .select("url", "extracted_text", "status").collect()}
    want = {r.url: (r.extracted_text, r.status)
            for r in extract(spark.read.parquet(pages_smoke),
                             ExtractConfig())
            .select("url", "extracted_text", "status").collect()}
    assert got == want


def test_stateful_running_counts(spark, tmp_path):
    from llmap_spark.streaming.stateful import running_user_counts_stream

    src = _as_dir(EVENTS, tmp_path / "ev_state")
    q = running_user_counts_stream(spark, src, query_name="rc_test")
    try:
        q.processAllAvailable()
        got = {r.user_id: r.n_events
               for r in spark.sql("SELECT * FROM rc_test").collect()}
    finally:
        q.stop()
    from pyspark.sql import functions as F

    want = {r.user_id: r.n for r in
            spark.read.parquet(EVENTS).groupBy("user_id")
            .agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_dedup_pages_stream_keeps_one_per_fingerprint(spark, pages_smoke, tmp_path):
    from pyspark.sql import functions as F

    from llmap_spark.streaming.dedup import dedup_pages_stream

    # recrawl simulation: the same pages arrive twice (second copy is a
    # later fetch of identical content)
    src = _as_dir(pages_smoke, tmp_path / "pages_dedup")
    recrawl = (spark.read.parquet(pages_smoke)
               .withColumn("url", F.concat(F.col("url"), F.lit("?refetch")))
               .withColumn("warc_ts",
                           F.col("warc_ts") + F.expr("INTERVAL 1 MINUTE")))
    recrawl.write.mode("append").parquet(src)
    # three NULL-html fetches with distinct urls: UNKNOWN content, all
    # must pass through (dropDuplicates treats nulls as EQUAL — the batch
    # twin's null guard applies here too)
    nulls = spark.createDataFrame(
        [(f"https://null{i}.example/p", None, None, None, None)
         for i in range(3)],
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).withColumn("warc_ts", F.lit("2025-01-01 00:00:00").cast("timestamp"))
    nulls.write.mode("append").parquet(src)

    q = dedup_pages_stream(spark, src, query_name="dd_test")
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM dd_test").collect()
    finally:
        q.stop()
    batch = (spark.read.parquet(src).filter(F.col("html").isNotNull())
             .withColumn("fp", F.md5(F.col("html"))))
    n_distinct = batch.select("fp").distinct().count()
    n_pages = batch.count()
    assert n_pages > n_distinct  # the corpus DOES contain recrawl dups
    null_rows = [r for r in rows if r.fingerprint is None]
    content_rows = [r for r in rows if r.fingerprint is not None]
    # all three null-payload pages pass through un-deduped
    assert len(null_rows) == 3
    # exactly one survivor per distinct content fingerprint
    assert len(content_rows) == n_distinct
    assert len({r.fingerprint for r in content_rows}) == n_distinct
    corpus_fps = {r.fp for r in batch.select("fp").distinct().collect()}
    assert {r.fingerprint for r in content_rows} == corpus_fps
