"""Corpus-scrubbing operators for training-data pipelines.

Three stages every web-text curation pipeline runs between extraction and
tokenization (reference analogue: the per-file relevance/skip gates of
llmap's pipeline, `llmap.py:139-229`, generalized to corpus hygiene):

  dedup_paragraphs  sub-document exact dedup: keep the corpus-wide FIRST
                    occurrence of each paragraph (boilerplate killer);
                    rewrite documents with later copies removed
  redact_pii        email / IPv4 / phone redaction with per-kind counts,
                    pure JVM regexp (no Python in the hot path)
  decontaminate     benchmark decontamination: flag documents sharing any
                    word n-gram with a (small) held-out benchmark corpus;
                    contaminated_ids is its drop-set-only twin

Scale notes baked in:
  - paragraph winners use groupBy(fingerprint).agg(min(...)) — map-side
    partial aggregation absorbs hot fingerprints (a boilerplate paragraph
    duplicated 10^9 times is ONE group, not a window sort over 10^9 rows);
    the winner join-back is an equi-join on the fingerprint AQE can
    skew-split;
  - redact_pii is regexp_extract_all / regexp_replace inside whole-stage
    codegen — zero Python, zero shuffles;
  - decontaminate broadcasts the benchmark n-gram set (benchmarks are
    MB-scale vs a 100 TB corpus) so the corpus side is one map-side join
    plus a partially-aggregated groupBy(doc) — one narrow shuffle of one
    row per document; contaminated_ids, which the curation chain uses,
    skips the groupBy too: a left-semi join against the broadcast grams
    is one map stage.

All expressions are chosen to evaluate identically in Spark and DuckDB
(ASCII-safe, no locale-sensitive folds) so every operator here is
hash-oracle-able; see __spark_entry__ for the driver twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from llmap_spark.operators.textstats import fingerprint, squeeze_ws

# Conservative patterns that parse identically under Java regex (Spark)
# and RE2 (DuckDB): no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def dedup_paragraphs(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     sep: str = "\n\n") -> DataFrame:
    """Corpus-wide paragraph dedup: split each document on `sep`, keep only
    the FIRST occurrence (min (id, position)) of each whitespace-normalized
    paragraph, and reassemble documents from their surviving paragraphs in
    original order.

    Returns (id_col, text_clean, n_paras, n_paras_kept). A document whose
    every paragraph appeared earlier elsewhere survives as an empty shell
    (downstream quality gates decide whether to drop it — this operator
    never loses rows). Gates detecting such shells must test
    trim(text_clean) = '' — NOT n_paras_kept = 0: blank paragraphs are
    dedup-exempt (below) and always survive, so a fully-deduplicated doc
    with a trailing separator reports n_paras_kept > 0 while its
    text_clean is whitespace-only.

    BLANK paragraphs (whitespace-only, e.g. the '' between a '\\n\\n\\n\\n'
    run or after a trailing separator) are EXEMPT from dedup — they are
    document spacing, not content, and fingerprint-deduping them would
    silently delete every blank paragraph in the corpus except one
    arbitrary global winner, mutating spacing everywhere. Each keeps a
    per-row synthetic key (never shuffled into a shared md5('') bucket —
    the same rule exact_dedup applies to NULL fingerprints).

    Winner selection is a groupBy on the paragraph fingerprint with a
    min(struct(id, idx, para)) aggregate: partial aggregation collapses
    hot fingerprints map-side, so pathological boilerplate (the exact
    thing paragraph dedup exists to kill) costs one group, not a skewed
    window sort. Carrying the winner's RAW paragraph inside the same
    min-struct (it rides the comparison but never decides it — (id, idx)
    is unique) means the kept rows fall straight out of the aggregate:
    the earlier join-back of the full paragraph frame against a winners
    frame re-evaluated the posexplode+md5 subtree a second time and paid
    an extra exchange (r6 plan audit: 3 parquet scans, 2 Generates, md5
    x2 -> 2 scans, 1 Generate, md5 x1). Reassembly is a groupBy(id) over
    winner rows — collect_list is bounded by a single document's
    paragraph count.
    """
    # \Q..\E: sep is a LITERAL separator, not a regex
    pat = "\\Q" + sep + "\\E"
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             pat, -1)).alias("_idx", "_para"),
    )
    paras = fingerprint(paras, text_col="_para", out_col="_fp")
    # blank test uses the SAME normalization as the fingerprint (a
    # tab-only paragraph must classify blank, not dedup via md5(''))
    paras = paras.withColumn(
        "_fp",
        F.when(squeeze_ws(F.col("_para")) != "", F.col("_fp"))
        .otherwise(F.concat(F.lit("\x00blank:"),
                            F.col(id_col).cast("string"), F.lit(":"),
                            F.col("_idx").cast("string"))))
    # the winner's (id, idx) is unique, so appending _para to the struct
    # cannot change which row wins — it just makes the aggregate output
    # the whole kept row, eliminating the join-back (see docstring)
    winners = paras.groupBy("_fp").agg(
        F.min(F.struct(F.col(id_col), F.col("_idx"),
                       F.col("_para"))).alias("_w"))
    kept = winners.select(F.col("_w")[id_col].alias(id_col),
                          F.col("_w._idx").alias("_idx"),
                          F.col("_w._para").alias("_para"))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_para"))),
                lambda s: s["_para"]),
            sep).alias("text_clean"),
        F.count(F.lit(1)).alias("n_paras_kept"),
    )
    counts = df.select(
        F.col(id_col),
        F.size(F.split(F.coalesce(F.col(text_col), F.lit("")),
                       pat, -1)).alias("n_paras"))
    return (counts.join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("text_clean", F.lit("")).alias("text_clean"),
                    "n_paras",
                    F.coalesce("n_paras_kept", F.lit(0))
                    .cast("int").alias("n_paras_kept")))


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add `text_redacted` plus per-kind match counts. Emails, then IPv4
    addresses, then NNN-NNN-NNNN phone numbers are replaced with typed
    placeholder tokens (email first so an address-like mail domain redacts
    once, as an email). Each count is measured on the text its replacement
    operates on, so n_<kind> always equals the number of <KIND> tokens
    inserted (an IP inside an email domain is NOT also counted as an IP).
    Everything is JVM regexp inside whole-stage codegen."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    red1 = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    red2 = F.regexp_replace(red1, IPV4_RE, "<IP>")
    red3 = F.regexp_replace(red2, PHONE_RE, "<PHONE>")
    # regexp_count matches size(regexp_extract_all(.., 0)) exactly (both
    # count non-overlapping matches) without materializing the match
    # array per row (r6: map-only stage, ~25% less expression work)
    n_emails = F.regexp_count(t, F.lit(EMAIL_RE))
    n_ipv4 = F.regexp_count(red1, F.lit(IPV4_RE))
    n_phones = F.regexp_count(red2, F.lit(PHONE_RE))
    return (df.withColumn("text_redacted", red3)
            .withColumn("n_emails", n_emails.cast("int"))
            .withColumn("n_ipv4", n_ipv4.cast("int"))
            .withColumn("n_phones", n_phones.cast("int")))


def _with_words(df: DataFrame, text_col: str, out_col: str) -> DataFrame:
    """The words of `text_col`: its squeeze_ws text split at the spaces.
    Not trim(text) split on \\s+: Spark's trim strips only the space, so
    a text that starts with a tab or newline would get a leading '' word,
    and word_ngrams' blank guard would then drop every gram of it."""
    return df.withColumn(
        out_col,
        F.split(squeeze_ws(F.coalesce(F.col(text_col), F.lit(""))), " "))


def word_ngrams(words_col: str, n: int):
    """Word n-gram array over a pre-split words column (JVM transform
    expression) — the SINGLE n-gram constructor, which _grams wraps for
    both decontamination shapes (decontaminate and contaminated_ids must
    agree on every gram, so they cannot each keep a copy).

    Gotchas baked in: sequence(1, 0) yields a DESCENDING [1, 0] in Spark,
    so short texts need the explicit size guard rather than an empty
    sequence; and split('') is [''], so at n=1 every blank/NULL-text doc
    would otherwise share the '' gram (the shared-sentinel hazard) — the
    `[0] <> ''` guard is a no-op for n >= 2 (size 1 < n already)."""
    gram_body = "concat_ws(' ', " + ", ".join(
        f"{words_col}[i-1+{j}]" for j in range(n)) + ")"
    return F.expr(
        f"case when size({words_col}) >= {n} and {words_col}[0] <> '' then "
        f"transform(sequence(1, size({words_col}) - {n - 1}), i -> {gram_body}) "
        "else array() end")


def _grams(df: DataFrame, n: int, text_col: str, keep: tuple = (),
           distinct_per_row: bool = False) -> DataFrame:
    """One row (*keep, _gram) per word n-gram of `text_col`. The one gram
    builder of both decontamination shapes: word_ngrams is the repo's
    SINGLE n-gram constructor (blank-text guard included), and operating
    on the pre-split projection keeps gram extraction O(words x n)
    instead of re-splitting per gram position. `distinct_per_row` drops
    a row's repeated grams before the explode."""
    grams = word_ngrams("_w", n)
    if distinct_per_row:
        grams = F.array_distinct(grams)
    return (_with_words(df, text_col, "_w")
            .select(*keep, F.explode(grams).alias("_gram")))


def decontaminate(df: DataFrame, benchmark: DataFrame, n: int = 3,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: per document, the number of DISTINCT word
    n-grams it shares with any benchmark text, and a contaminated flag.

    Returns (id_col, n_hits, contaminated) for every document with at
    least n words (shorter documents carry no n-gram and are trivially
    clean; they are excluded, mirroring the SQL oracle).

    The benchmark n-gram set is distinct-ed and BROADCAST — held-out
    eval suites are MB-scale against a 100 TB corpus, so the corpus side
    never shuffles for the membership test; the only wide exchange is the
    groupBy(doc) whose partial aggregate emits one row per document per
    partition. The curation chain, which needs only the contaminated ids,
    uses contaminated_ids instead."""
    bench = _grams(benchmark, n, text_col).distinct()
    grams = _grams(df, n, text_col, keep=(id_col,), distinct_per_row=True)
    hits = (grams.join(F.broadcast(bench.withColumn("_hit", F.lit(1))),
                       "_gram", "left")
            .groupBy(id_col)
            .agg(F.sum(F.coalesce("_hit", F.lit(0)))
                 .cast("bigint").alias("n_hits")))
    return hits.withColumn(
        "contaminated", (F.col("n_hits") > 0).cast("int"))


def contaminated_ids(df: DataFrame, benchmark: DataFrame, n: int = 3,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """The ids of the documents that share any word n-gram with a
    benchmark text: the same set as decontaminate's contaminated = 1 rows,
    for callers that only drop them (the curation chain).

    The document grams are LEFT-SEMI-joined to the broadcast benchmark
    grams, so an id appears once per matching gram occurrence of its
    document, never once per benchmark copy of a gram: the benchmark
    side needs no distinct, the document side no array_distinct and no
    groupBy. The whole drop set is one map stage over the document
    grams; a caller removes it with one left_anti join."""
    bench = F.broadcast(_grams(benchmark, n, text_col))
    return (_grams(df, n, text_col, keep=(id_col,))
            .join(bench, "_gram", "left_semi")
            .select(id_col))
