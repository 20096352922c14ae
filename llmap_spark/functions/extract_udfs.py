"""Extraction UDF: the Spark-facing adapter for the kernel.

The reference funnel (SURVEY.md §2) runs in ONE ``mapInArrow`` pass per
batch: ``kernel.extract_page`` does the coarse stage (html -> blocks +
candidate features), short-circuits pages with no candidate block, and
runs refine (density classify + neighbor rescue, then stitch kept blocks
into (extracted_text, spans)) on the survivors only. The block IR never
leaves the Python worker, so it never crosses the JVM<->Arrow boundary.
"""

from __future__ import annotations

from llmap_spark import kernel

# DDL string keeps this importable without a session
FUSED_SCHEMA = (
    "url string, warc_ts timestamp, lang string, extracted_text string, "
    "spans array<struct<start long, end long>>, "
    "n_blocks_kept int, n_blocks_total int, status string, bytes_in long"
)


def _spans_array(offsets: list[int], flat: list[tuple[int, int]]):
    """The ``spans`` column from flat buffers: row i's spans are
    ``flat[offsets[i]:offsets[i + 1]]``. Builds list<struct<start, end>>
    from three primitive arrays instead of one Python dict per span."""
    import pyarrow as pa

    starts, ends = zip(*flat) if flat else ((), ())
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(starts, pa.int64()), pa.array(ends, pa.int64())],
            names=["start", "end"]))


def extract_fused_arrow(batches):
    """mapInArrow fused fast path: the whole funnel in one Python pass;
    the batch never becomes a pandas DataFrame — input html is read straight
    off the Arrow buffer, passthrough columns (url/warc_ts/lang/
    salt_bucket) are forwarded zero-copy, and outputs are built as Arrow
    arrays directly. Saves the pandas Series/DataFrame round-trip per
    batch on both sides of the UDF."""
    import pyarrow as pa

    for rb in batches:
        names = rb.schema.names
        col = {n: rb.column(i) for i, n in enumerate(names)}
        texts, kept, total, status, bytes_in = [], [], [], [], []
        offsets, flat = [0], []
        for h in col["html"].to_pylist():
            r = kernel.extract_page(h)
            texts.append(r.extracted_text)
            flat += r.spans
            offsets.append(len(flat))
            kept.append(r.n_blocks_kept)
            total.append(r.n_blocks_total)
            status.append(r.status)
            bytes_in.append(len(h) if h is not None else 0)
        yield pa.RecordBatch.from_arrays(
            [col["url"], col["warc_ts"], col["lang"],
             pa.array(texts, pa.string()),
             _spans_array(offsets, flat),
             pa.array(kept, pa.int32()), pa.array(total, pa.int32()),
             pa.array(status, pa.string()),
             pa.array(bytes_in, pa.int64()),
             col["salt_bucket"]],
            names=["url", "warc_ts", "lang", "extracted_text", "spans",
                   "n_blocks_kept", "n_blocks_total", "status", "bytes_in",
                   "salt_bucket"])
