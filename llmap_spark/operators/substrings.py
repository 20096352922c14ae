"""Exact duplicated-substring detection and trimming (the Lee et al.
"Deduplicating Training Data" suffix-array family, restated Spark-first).

Finds every byte of the normalized corpus that lies inside a substring
of length >= `min_len` occurring at two or more sites (another document
OR another position of the same document), and trims those bytes.

The suffix-array reduction: a maximal duplicated substring of length
m >= L covers exactly the union of [i, i+L) over its duplicated L-gram
start positions, and conversely every duplicated L-gram is itself a
duplicated substring of length L. So corpus-wide coverage by
duplicated >=L substrings EQUALS corpus-wide coverage by duplicated
L-grams — no suffix array needed, and the computation becomes a
groupBy over positional rolling hashes (the winnowing hash family from
operators/fingerprints.py, undeduplicated and order-preserving).
tests/test_substrings.py pins this equivalence against an independent
pure-python suffix-array + LCP oracle.

Plan shape (the exact-dedup discipline at corpus scale):
  1. one Arrow UDF pass: per doc, positional L-gram hashes grouped
     within-doc -> (doc_id, h, positions array) — one row per DISTINCT
     gram per doc, ~normalized length rows total. This linear-in-corpus
     table is the inherent price of exact substring dedup (Lee et al.
     pay it as a corpus-wide suffix array).
  2. site counts: groupBy(h) SUM of per-doc position counts — partial
     aggregation collapses hot boilerplate grams map-side, so the
     shuffle carries one row per (map partition, gram).
  3. duplicated gram set (count >= 2) LEFT-SEMI joins back to the
     per-doc rows on h — output never exceeds input, and a hot gram's
     fan-in is AQE-skew-split territory.
  4. per-doc finish: covered positions collect to one bounded-by-doc-
     length array (groupBy doc_id — uniform key), then ONE Arrow UDF
     joins the original text back in, merges [p, p+L) intervals, and
     trims — pure kernel functions shared with pytest.

64-bit gram hashes stand in for gram equality (the standard corpus-
dedup assumption; a collision needs ~2^32 distinct grams per bucket).
Reference analogue: none — the reference has no dedup; this is
brief-side scope alongside MinHash/winnowing/CDC.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from llmap_spark.session import ensure_parallelism

from llmap_spark.operators.fingerprints import _rolling_hashes_bytes

def _normalize(text: str) -> str:
    """Whitespace-squeeze + ASCII-only lowercase — the CDC/kernel fold
    (full str.lower() changes LENGTH for some Unicode and diverges from
    SQL engines; positions below are byte offsets into THIS string's
    UTF-8 encoding)."""
    from llmap_spark.kernel import _ASCII_LOWER

    return " ".join((text or "").split()).translate(_ASCII_LOWER)


def merge_covered(starts: list[int], k: int, n_bytes: int
                  ) -> list[tuple[int, int]]:
    """Duplicated gram start offsets -> merged byte spans [s, e) of the
    covered region (each start covers [p, p+k), clipped to the text).
    Pure kernel: sorted-merge, total, deterministic."""
    spans: list[tuple[int, int]] = []
    for p in sorted(starts):
        s, e = p, min(p + k, n_bytes)
        if s >= e:
            continue
        if spans and s <= spans[-1][1]:
            if e > spans[-1][1]:
                spans[-1] = (spans[-1][0], e)
        else:
            spans.append((s, e))
    return spans


def trim_spans(raw: bytes, spans: list[tuple[int, int]]) -> bytes:
    """Remove covered byte spans, keeping everything else verbatim.
    Span ends are snapped OFF UTF-8 continuation bytes (forward) so the
    survivor always decodes — the CDC snap rule; ASCII input is exact."""
    out: list[bytes] = []
    last = 0
    for s, e in spans:
        s2, e2 = s, e
        while s2 < len(raw) and (raw[s2] & 0xC0) == 0x80:
            s2 += 1
        while e2 < len(raw) and (raw[e2] & 0xC0) == 0x80:
            e2 += 1
        if s2 > last:
            out.append(raw[last:s2])
        last = max(last, e2)
    out.append(raw[last:])
    return b"".join(out)


def _gram_table(df: DataFrame, id_col: str, text_col: str,
                min_len: int) -> DataFrame:
    """(doc_id, h, positions array<int>): within-doc grouped positional
    L-gram hashes of the normalized text. Vectorized per doc (argsort +
    run-split — no per-position Python loop)."""

    @pandas_udf("array<struct<h: long, positions: array<int>>>")
    def grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            b = _normalize(t).encode("utf-8")
            hs = _rolling_hashes_bytes(b, min_len)
            if hs.size == 0:
                out.append(None)
                continue
            order = np.argsort(hs, kind="stable")
            sh = hs[order]
            cut = np.nonzero(np.diff(sh))[0] + 1
            groups = np.split(order.astype(np.int32), cut)
            heads = np.concatenate(([0], cut))
            # two's-complement view: uint64 -> int64 wraps, matching the
            # array<long> column (same convention as winnowing)
            sh_i64 = sh.astype(np.int64)
            out.append([
                {"h": int(sh_i64[head]),
                 "positions": g.tolist()}
                for head, g in zip(heads, groups)])
        return pd.Series(out)

    # deterministic; the flag only blocks optimizer expression cloning
    # (the explode/InferFiltersFromGenerate rule — CLAUDE.md gotcha)
    g = grams.asNondeterministic()
    return (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), g(F.col(text_col)).alias("_gs"))
        .select(id_col, F.explode("_gs").alias("g"))
        .select(id_col, F.col("g.h").alias("h"),
                F.col("g.positions").alias("positions"))
    )


def substring_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    min_len: int = 20) -> DataFrame:
    """-> input columns + (n_spans, n_dup_chars, spans, text_deduped).

    `spans` are byte offsets into the NORMALIZED text (whitespace-
    squeezed, ASCII-lowercased); `text_deduped` is that text with every
    covered byte removed. Rows whose normalized text is shorter than one
    L-gram carry zero spans and their normalized text unchanged — total,
    never dropped."""
    grams = _gram_table(df, id_col, text_col, min_len).persist()
    from llmap_spark.cache import register_persisted

    register_persisted(grams)
    dup_hashes = (grams.groupBy("h")
                  .agg(F.sum(F.size("positions")).alias("_sites"))
                  .filter(F.col("_sites") >= 2)
                  .select("h"))
    # keep the per-gram position ARRAYS through the shuffle and flatten
    # inside the aggregate — exploding to one row per duplicated position
    # first shipped the same ints as many thin rows plus a Generate (r6:
    # same multiset, sort_array(flatten(collect_list)) == sort_array of
    # the exploded collect_list)
    covered = (
        grams.join(dup_hashes, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.flatten(F.collect_list("positions")))
             .alias("_covered"))
    )

    # TWO UDFs, not one struct (r6): consumers that never read
    # text_deduped — the bench query projects only the stats — let column
    # pruning drop the `detext` evaluation entirely (trim + utf-8
    # round-trip of every document). `detext` reuses the spans `stats`
    # already merged, so nothing is computed twice when both are read.
    @pandas_udf("struct<n_spans: int, n_dup_chars: int, "
                "spans: array<struct<start: int, end: int>>>")
    def stats(texts: pd.Series, covered_col: pd.Series) -> pd.DataFrame:
        rows = {"n_spans": [], "n_dup_chars": [], "spans": []}
        for t, cov in zip(texts, covered_col):
            if cov is None:
                rows["n_spans"].append(0)
                rows["n_dup_chars"].append(0)
                rows["spans"].append([])
                continue
            b = _normalize(t).encode("utf-8")
            spans = merge_covered([int(p) for p in cov], min_len, len(b))
            rows["n_spans"].append(len(spans))
            rows["n_dup_chars"].append(sum(e - s for s, e in spans))
            rows["spans"].append(
                [{"start": s, "end": e} for s, e in spans])
        return pd.DataFrame(rows)

    @pandas_udf("string")
    def detext(texts: pd.Series, spans_col: pd.Series) -> pd.Series:
        out = []
        for t, sp in zip(texts, spans_col):
            norm = _normalize(t)
            # sp arrives as a numpy array of span dicts; truth-test by
            # length (bare `not sp` is ambiguous on numpy arrays)
            if sp is None or len(sp) == 0:
                # no covered spans: trim is the identity on the
                # normalized text (encode/decode round-trip elided)
                out.append(norm)
                continue
            out.append(trim_spans(
                norm.encode("utf-8"),
                [(int(s["start"]), int(s["end"])) for s in sp]
            ).decode("utf-8", errors="replace"))
        return pd.Series(out)

    out = (df.join(covered, [id_col], "left")
           .withColumn("_sd", stats(F.col(text_col), F.col("_covered")))
           .select(*df.columns,
                   F.col("_sd.n_spans").alias("n_spans"),
                   F.col("_sd.n_dup_chars").alias("n_dup_chars"),
                   F.col("_sd.spans").alias("spans"))
           .withColumn("text_deduped",
                       detext(F.col(text_col), F.col("spans"))))
    return out
