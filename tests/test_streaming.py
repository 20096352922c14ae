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

