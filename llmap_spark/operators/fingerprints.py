"""Document fingerprinting via rolling hashes + winnowing (Schleimer,
Wilkerson, Aiken — the MOSS local fingerprinting scheme).

Complements the other dedup families: md5 catches EXACT duplicates,
MinHash catches whole-document NEAR duplicates; winnowing catches
PARTIAL overlap — a paragraph lifted from one document into another —
because its fingerprints are local. Guarantee: any shared (normalized)
substring of length >= k + window - 1 chars contributes at least one
shared fingerprint (the winnowing theorem), while per-doc fingerprint
count stays ~2/(window+1) of the k-gram count.

Spark shape: fingerprints are a numpy-vectorized pandas_udf (the same
polynomial rolling hash + murmur finalizer the MinHash shingles use);
overlap detection is explode -> equi-join on fingerprint -> group count,
with a document-frequency cap on hot fingerprints (boilerplate phrases)
guarding the join from quadratic blowup — the same skew discipline as the
LSH bucket cap. Rolling-hash math never enters SQL, so the driver records
rows-only; pytest pins the UDF against a pure-python reimplementation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from llmap_spark.session import ensure_parallelism

from llmap_spark.operators.dedup import _FNV, _mix64


def _rolling_hashes_bytes(raw: bytes, k: int) -> np.ndarray:
    """POSITIONAL 64-bit k-gram hashes over a byte stream (same hash
    family as dedup._shingle_hashes, but order-preserving and
    undeduplicated — winnowing and CDC need positions). Hash index i
    covers raw[i:i+k], so positions are BYTE offsets into `raw`."""
    b = np.frombuffer(raw, dtype=np.uint8)
    if b.size < k:
        return np.empty(0, dtype=np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    pw = _FNV ** np.arange(k, dtype=np.uint64)  # wraparound mod 2^64 is fine
    return _mix64((win * pw[None, :]).sum(axis=1, dtype=np.uint64))


def _rolling_hashes(text: str, k: int) -> np.ndarray:
    """Normalize (squeeze + lower) then hash; see _rolling_hashes_bytes."""
    t = " ".join(text.split()).lower()
    return _rolling_hashes_bytes(t.encode("utf-8"), k)


def winnow(hashes: np.ndarray, window: int) -> np.ndarray:
    """Select the RIGHTMOST minimal hash of every length-`window` window
    (robust winnowing: rightmost tie-break minimizes selected positions),
    deduplicate positions, return the selected values sorted. Vectorized:
    one sliding-window view + argmin over the reversed axis."""
    n = hashes.size
    if n == 0:
        return hashes
    if n <= window:
        return np.sort(np.unique(hashes.min(keepdims=True)))
    wins = np.lib.stride_tricks.sliding_window_view(hashes, window)
    # rightmost argmin == window-1 - argmin(reversed)
    right_amin = window - 1 - np.argmin(wins[:, ::-1], axis=1)
    pos = np.unique(np.arange(wins.shape[0]) + right_amin)
    return np.sort(np.unique(hashes[pos]))


def winnow_fingerprints_udf(k: int = 16, window: int = 8):
    """pandas_udf: text -> array<long> winnowed fingerprints. NULL for
    texts shorter than one k-gram (nothing to fingerprint — a shared
    sentinel would spuriously match all tiny docs, same rationale as the
    MinHash NULL signature)."""

    @pandas_udf("array<long>")
    def fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            h = _rolling_hashes(t or "", k)
            if h.size == 0:
                out.append(None)
                continue
            out.append(winnow(h, window).astype(np.int64).tolist())
        return pd.Series(out)

    # the function IS deterministic; the flag only stops the optimizer
    # from cloning it (InferFiltersFromGenerate inserts a pre-explode
    # null/size filter with a SECOND ArrowEvalPython — doubling the most
    # expensive stage; verified in the physical plan)
    return fp.asNondeterministic()


def doc_fingerprints(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 16,
                     window: int = 8) -> DataFrame:
    """One row per (doc, fingerprint): the exploded winnowed set.

    No NULL filter: explode() drops NULL arrays by itself, and an explicit
    filter on the UDF column would make Spark evaluate the UDF twice
    (once for the predicate, once for the projection — seen in the plan)."""
    return (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col),
                winnow_fingerprints_udf(k, window)(F.col(text_col)).alias("_fps"))
        .select(id_col, F.explode("_fps").alias("fp"))
    )


def cdc_boundaries(hashes: np.ndarray, k: int, n_chars: int,
                   mask_bits: int = 6, min_len: int = 64,
                   max_len: int = 1024) -> list[int]:
    """Content-defined chunk cut points over the normalized char stream:
    cut after position i+k when the k-gram rolling hash at i has its low
    `mask_bits` bits zero (expected chunk ~2^mask_bits chars), subject to
    min/max length clamps (the standard CDC guards: min_len suppresses
    pathological tiny chunks, max_len forces a cut in boundary deserts).
    Returns ascending cut offsets, always ending at n_chars.

    The point of CDC over fixed windows: an insertion near the start of a
    document shifts FIXED chunk boundaries everywhere, but content-defined
    cuts re-align after ~one chunk — so sub-document dedup on chunk hashes
    survives edits (pinned by a shift-resistance test)."""
    mask = (1 << mask_bits) - 1
    cuts: list[int] = []
    last = 0
    candidates = np.nonzero((hashes & np.uint64(mask)) == 0)[0]
    for i in candidates:
        pos = int(i) + k
        if pos - last < min_len:
            continue
        while pos - last > max_len:  # boundary desert before this cut
            last += max_len
            cuts.append(last)
        if pos - last >= min_len:
            cuts.append(pos)
            last = pos
    while n_chars - last > max_len:
        last += max_len
        cuts.append(last)
    if not cuts or cuts[-1] != n_chars:
        cuts.append(n_chars)
    return cuts


def cdc_chunks_udf(k: int = 16, mask_bits: int = 6, min_len: int = 64,
                   max_len: int = 1024):
    """pandas_udf: text -> array<string> content-defined chunks of the
    NORMALIZED text (concatenation invariant: ''.join(chunks) == the
    normalized text). Texts shorter than one k-gram yield one chunk."""

    from llmap_spark.kernel import _ASCII_LOWER

    @pandas_udf("array<string>")
    def chunks(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            # ASCII-only lowercase (kernel._ASCII_LOWER), NOT str.lower():
            # full case mapping changes string LENGTH for some Unicode (İ
            # -> 'i' + combining dot) and DIVERGES from SQL engines' simple
            # mapping — the cdc_reassembly oracle compares md5s across
            # engines, so the fold must be byte-for-byte portable
            norm = " ".join((t or "").split()).translate(_ASCII_LOWER)
            if not norm:
                out.append([])
                continue
            # hash positions are BYTE offsets, so hash and slice the SAME
            # byte string (char slicing would desync on multibyte text —
            # the İ bug class), and snap each cut off UTF-8 continuation
            # bytes so no chunk splits a character (snapping can shave a
            # body chunk up to 3 bytes below min_len on multibyte text)
            b = norm.encode("utf-8")
            h = _rolling_hashes_bytes(b, k)
            if h.size == 0:
                out.append([norm])
                continue
            cuts = cdc_boundaries(h, k, len(b), mask_bits, min_len, max_len)
            snapped: list[int] = []
            for cut in cuts:
                while cut < len(b) and (b[cut] & 0xC0) == 0x80:
                    cut += 1
                if not snapped or cut > snapped[-1]:
                    snapped.append(cut)
            if snapped[-1] != len(b):
                snapped.append(len(b))
            out.append([b[a:e].decode("utf-8")
                        for a, e in zip([0] + snapped[:-1], snapped)])
        return pd.Series(out)

    return chunks.asNondeterministic()  # blocks optimizer cloning only


def cdc_chunk_table(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 16, mask_bits: int = 6,
                    min_len: int = 64, max_len: int = 1024) -> DataFrame:
    """One row per chunk: (id, chunk_idx, chunk_md5, n_chars). Feeding
    chunk_md5 into exact_dedup gives SUB-document dedup — shared
    boilerplate paragraphs dedup away even when documents differ."""
    c = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.posexplode(cdc_chunks_udf(k, mask_bits, min_len, max_len)(
            F.col(text_col))).alias("chunk_idx", "_chunk"))
    return c.select(id_col, "chunk_idx",
                    F.md5(F.encode(F.col("_chunk"), "UTF-8")).alias("chunk_md5"),
                    F.length("_chunk").cast("int").alias("n_chars"))


def winnow_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 16,
                         window: int = 8, min_shared: int = 2,
                         max_df: int = 200) -> DataFrame:
    """Partial-overlap candidate pairs: docs sharing >= `min_shared`
    winnowed fingerprints, as (id_a, id_b, n_shared) with id_a < id_b.

    Fingerprints present in more than `max_df` documents are dropped
    (boilerplate/stop phrases — the analogue of the LSH hot-bucket cap;
    without it one viral phrase makes pair generation quadratic in corpus
    size).

    Plan shape: ONE UDF pass, two shuffles. Instead of a self-join (which
    evaluates the fingerprint subtree once per side), docs sharing a
    fingerprint are grouped — groupBy(fp) + collect_list — and pairs are
    generated inside the array with a JVM transform; the df cap is just a
    size() filter on the same aggregate, no extra window or anti-join.
    Group size is bounded by max_df, so the in-array pair expansion is
    bounded at max_df^2/2 per fingerprint by construction.
    """
    fps = doc_fingerprints(df, id_col, text_col, k, window)
    byfp = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_df))
    )
    pairs = byfp.select(F.explode(F.flatten(F.expr(
        "transform(ids, (x, i) -> transform("
        "  slice(ids, i + 2, size(ids) - i - 1),"
        "  y -> struct(x AS id_a, y AS id_b)))"
    ))).alias("p")).select("p.id_a", "p.id_b")
    return (
        pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
