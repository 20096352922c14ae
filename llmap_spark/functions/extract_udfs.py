"""Extraction-stage UDFs: the Spark-facing adapters for the kernel.

Stage mapping to the reference funnel (SURVEY.md §2):
  stage 1 "coarse"  — html -> block IR + candidate features
                      (reference: skeleton extraction, parse.py:192-234)
  stage 2+3 "refine"— density classify + neighbor rescue, then stitch kept
                      blocks into (extracted_text, spans)
                      (reference: full_source_relevance prompts.py:42-69 +
                       refine_context prompts.py:72-118)

Stage 2 and 3 are separate kernel functions but fused into ONE Python
stage here: they both consume the block IR, and keeping them in a single
Python round-trip halves the JVM<->Arrow transfer of the (large) blocks.
The funnel boundary that matters for scale — cheap gate before expensive
refine — stays explicit in the plan (plans/pipeline.py).

The block IR travels between the two stages as ONE opaque binary column
(pickled kernel.Block list, non-candidate text zeroed) next to typed
feature columns (n_blocks_total, n_candidates, status). r6 optimization,
guide §4.2/§2.3: the earlier array<struct<11 fields>> representation made
the JVM convert every nested block to InternalRows after stage 1 and back
to Arrow before stage 2 just so the gate could null a column it never
inspects — measured 3x the fused path end-to-end at sf0.1; a binary
column crosses both boundaries as a raw buffer and the gate needs only
the n_candidates int. Decisions are still made on the typed feature
columns; the payload is opaque exactly like the html payload itself.
"""

from __future__ import annotations

import pickle

from llmap_spark import kernel

# --- schemas (DDL strings keep this importable without a session) ---------
SPAN_DDL = "start long, end long"

# the stage-1 -> stage-2 IR: packed blocks + typed candidate features
STAGE1_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "blocks binary, "
    "n_blocks_total int, n_candidates int, status string, bytes_in long"
)

# the gate's "no blocks ship" value (plans/pipeline.py): unpacks to []
EMPTY_BLOCKS = pickle.dumps([], protocol=4)

EXTRACTED_CORE = (
    "url string, warc_ts timestamp, lang string, extracted_text string, "
    f"spans array<struct<{SPAN_DDL}>>, "
    "n_blocks_kept int, n_blocks_total int, status string"
)
REFINE_SCHEMA = EXTRACTED_CORE + ", bytes_in long"
FUSED_SCHEMA = REFINE_SCHEMA


def _pack_blocks(blocks: list[kernel.Block]) -> bytes:
    # non-candidate blocks can never be kept (classify pass-1 AND the
    # neighbor rescue both require `candidate`), so their text never
    # reaches stitch — ship features only, not payload. Cuts the staged
    # path's IR bytes roughly in half on boilerplate-heavy pages.
    return pickle.dumps(
        [b if b.candidate else b._replace(text="") for b in blocks],
        protocol=4)


def stage1_coarse(batches):
    """mapInArrow kernel: pages batch -> packed block IR + coarse features.

    Never raises per row: malformed pages yield status columns, not
    exceptions (a throwing Arrow UDF kills the whole task batch —
    reference analogue: exceptions-as-data, exceptions.py:1-29).
    Passthrough columns (url/warc_ts/lang/salt_bucket) forward zero-copy,
    same as the fused path."""
    import pyarrow as pa

    for rb in batches:
        col = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
        packed, total, ncand, status, bytes_in = [], [], [], [], []
        for h in col["html"].to_pylist():
            dec = kernel.decode_html(h)
            blocks, body_seen, perr = kernel.parse_blocks(dec.text)
            packed.append(_pack_blocks(blocks))
            total.append(len(blocks))
            ncand.append(sum(1 for b in blocks if b.candidate))
            status.append(kernel.page_status(h, dec, body_seen, perr))
            bytes_in.append(len(h) if h is not None else 0)
        yield pa.RecordBatch.from_arrays(
            [col["url"], col["warc_ts"], col["lang"],
             pa.array(packed, pa.binary()),
             pa.array(total, pa.int32()), pa.array(ncand, pa.int32()),
             pa.array(status, pa.string()), pa.array(bytes_in, pa.int64()),
             col["salt_bucket"]],
            names=["url", "warc_ts", "lang", "blocks", "n_blocks_total",
                   "n_candidates", "status", "bytes_in", "salt_bucket"])


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


def refine_stitch(batches):
    """mapInArrow kernel over stage-1 survivors: classify + stitch."""
    import pyarrow as pa

    for rb in batches:
        col = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
        texts, kept_col, offsets, flat = [], [], [0], []
        for bb in col["blocks"].to_pylist():
            blocks = pickle.loads(bb)
            keep = kernel.classify(blocks)
            text, spans = kernel.stitch(blocks, keep)
            texts.append(text)
            flat += spans
            offsets.append(len(flat))
            kept_col.append(sum(keep))
        yield pa.RecordBatch.from_arrays(
            [col["url"], col["warc_ts"], col["lang"],
             pa.array(texts, pa.string()),
             _spans_array(offsets, flat),
             pa.array(kept_col, pa.int32()), col["n_blocks_total"],
             col["status"], col["bytes_in"], col["salt_bucket"]],
            names=["url", "warc_ts", "lang", "extracted_text", "spans",
                   "n_blocks_kept", "n_blocks_total", "status", "bytes_in",
                   "salt_bucket"])


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


# (a pandas-based fused variant existed before extract_fused_arrow; it was
# strictly slower — mapInArrow replaced it and the staged path remains the
# mapInPandas reference implementation)
