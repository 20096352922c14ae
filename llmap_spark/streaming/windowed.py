"""Structured Streaming variants of the batch operators.

The reference has NOTHING streaming (SURVEY.md §2 end note) — resumability
there is a response cache we map to snapshot anti-join resume. These
operators are the *additive* streaming surface a web-scale ingest pipeline
needs: windowed event aggregation with watermarked late-data handling, and
a streaming run of the extraction kernel (the kernel is a pure map, so it
lifts to readStream unchanged).

Each streaming op has a batch twin with identical semantics; tests run the
stream to completion over the same parquet input (memory sink +
processAllAvailable) and assert equality with the batch result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from llmap_spark.plans.pipeline import ExtractConfig, extract

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def windowed_counts_batch(events: DataFrame, minutes: int = 5) -> DataFrame:
    """Batch twin: tumbling-window counts + integer-exact micro-sums per
    event_type. THE single implementation of these semantics: the driver
    query (_q_windowed_events) calls this function and the DuckDB oracle
    mirrors the identical integer formulas — a second hand-rolled copy of
    the aggregation is how twins silently drift. Integer epoch bucketing
    because window() structs don't travel to SQL cleanly; floor(value*1e6)
    long sums because float sums hash differently across engines."""
    bucket = (F.floor(F.unix_timestamp("ts") / (minutes * 60))
              * (minutes * 60)).cast("long")
    return (
        events.groupBy(bucket.alias("win_start"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.floor(F.col("value") * 1000000).cast("long"))
             .alias("sum_micros"))
    )


def windowed_counts_stream(spark: SparkSession, src_path: str,
                           minutes: int = 5, watermark: str = "10 minutes",
                           query_name: str = "windowed_counts",
                           output_mode: str = "update"):
    """Streaming variant of windowed_counts_batch (same columns, same
    integer arithmetic). Returns the started query; caller drives it.

    output_mode matters for the watermark: in 'update'/'append' the
    watermark EVICTS window state — the bounded-state shape an unbounded
    stream requires. 'complete' retains every window forever and makes the
    watermark inert; the test harness uses it deliberately because its
    input is bounded and it wants the final table to equal the batch twin
    exactly — never run 'complete' on a real stream.

    MEMORY-SINK caveat under 'update': the memory sink APPENDS each
    update, so a window touched by several micro-batches appears once per
    update in the queryable table — consumers must take the LAST row per
    (win_start, event_type) (or aggregate with max), not sum the table.
    The memory sink is the demo/test surface; a real deployment points
    this aggregation at a keyed sink (Delta/JDBC upsert) where 'update'
    semantics land as replacements."""
    events = (spark.readStream.schema(EVENTS_DDL).format("parquet")
              .load(src_path))
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.floor(F.col("value") * 1000000).cast("long"))
             .alias("sum_micros"))
        .select(F.unix_timestamp("window.start").cast("long").alias("win_start"),
                "event_type", "n_events", "sum_micros")
    )
    return (agg.writeStream.outputMode(output_mode).format("memory")
            .queryName(query_name).start())


def extract_stream(spark: SparkSession, pages_path: str, out_path: str,
                   checkpoint: str, cfg: ExtractConfig = ExtractConfig(),
                   query_name: str = "extract_stream"):
    """Streaming extraction: the same `extract()` plan over readStream.
    The kernel is a stateless per-row map, so watermarks/state are not
    needed; checkpointing gives exactly-once file-sink semantics — the
    streaming analogue of the snapshot/anti-join resume used in batch."""
    pages = spark.readStream.schema(PAGES_DDL).format("parquet").load(pages_path)
    ex = extract(pages, cfg)
    return (ex.writeStream.format("parquet").outputMode("append")
            .option("path", out_path).option("checkpointLocation", checkpoint)
            .queryName(query_name).start())
