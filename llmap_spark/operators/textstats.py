"""Text analysis operators — 100% JVM-side expressions (no Python UDFs).

Every rule here is integer arithmetic over `pyspark.sql.functions`
primitives, so results are engine-portable (the DuckDB oracle runs the
same formulas) and whole-stage-codegen keeps them at scan speed: these
columns cost roughly nothing on top of reading the data.

Reference analogue: token counting (`parse.py:17-18`) — the reference uses
an HF tokenizer purely as a cost model; we use deterministic arithmetic
(BASELINE.json de-LLM mandate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# language -> marker words (space-delimited occurrence counting).
# Order is the deterministic tie-break: earlier wins ties.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "los", "que"),
}


def occurrences(col: Column, sub: str) -> Column:
    """Count NON-OVERLAPPING occurrences of `sub` via length arithmetic —
    portable to ANSI SQL and codegen-friendly. Note: for padded-word
    patterns like ' the ', adjacent repeats share a delimiter space and
    count once ('the the the' -> 2) — a known property of every
    replace-based counter; the SQL oracle applies the identical rule, so
    results stay engine-identical by construction."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(sub)))) / F.lit(len(sub))
    ).cast("int")


def squeeze_ws(col: Column) -> Column:
    """Whitespace runs collapsed to one space, ends trimmed: the one
    normalization token counts, quality features and fingerprints share."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def _tokens_of_squeezed(squeezed: Column) -> Column:
    return F.when(F.length(squeezed) == 0, F.lit(0)).otherwise(
        occurrences(squeezed, " ") + F.lit(1)
    ).cast("int")


def token_count(col: Column) -> Column:
    """Whitespace token count as pure arithmetic: spaces+1 on a
    squeezed string; 0 for empty/blank. Portable to the SQL oracle."""
    return _tokens_of_squeezed(squeeze_ws(col))


# CJK codepoint classes (Kana + Han incl. ext-A + Hangul syllables):
# scripts written WITHOUT spaces, where a whitespace counter sees a
# whole sentence as one token
CJK_CLASS = "[぀-ヿ㐀-䶿一-鿿가-힯]"


def token_count_script_aware(col: Column) -> Column:
    """Whitespace token count that doesn't collapse CJK text: tokens =
    whitespace tokens of the text with CJK codepoints blanked out, plus
    one token per CJK codepoint (the standard ~1-token-per-character
    approximation for unsegmented scripts — the same convention BPE
    vocabularies roughly realize). Pure JVM arithmetic: the CJK count is
    a length difference, the remainder reuses token_count; mixed-script
    documents therefore count each part by its own script's rule."""
    n_cjk = F.length(col) - F.length(
        F.regexp_replace(col, CJK_CLASS, ""))
    return (token_count(F.regexp_replace(col, CJK_CLASS, " "))
            + n_cjk).cast("int")


# BPE-ish pre-tokenizer: letter runs | digit runs | punctuation runs.
# Deliberately ASCII-only so Java regex (Spark), RE2 (DuckDB), and Python
# `re` agree exactly — the portable stand-in for a real BPE vocab count.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_count_bpe(col: Column) -> Column:
    """Sub-word-ish token count: counts letter/digit/punct runs via one
    JVM-side regexp_count — the deterministic cost model the reference
    used an HF tokenizer for (reference parse.py:17-18)."""
    return F.regexp_count(col, F.lit(BPE_ISH_PATTERN)).cast("int")


QUALITY_COLUMNS = ("n_chars_t", "n_tokens_t", "n_periods", "n_commas",
                   "n_stop_hits", "mwl_x100", "q_keep")


def _let(value: Column, body) -> Column:
    """`body(v)` with `value` evaluated ONCE per row and bound to `v`: a
    one-element array transform. The optimizer neither inlines a lambda
    argument into its uses nor pushes a filter inside the lambda, so a
    bound value stays one evaluation however often the body reads it."""
    return F.transform(F.array(value), body)[0]


def quality(col: Column) -> Column:
    """Struct of the QUALITY_COLUMNS signals of `col`: the one quality
    formula, shared by quality_features and the curation chain's gate.

    Every intermediate the formula reads more than once (the squeezed
    text, the padded text, the token count, the mean word length) is
    bound with _let and evaluated once per row. Written as chained
    columns, the optimizer inlines each alias into every use — and into
    a pushed-down `q_keep` filter, whose plan then re-ran the whitespace
    regexp once per use."""
    stop_words = ("the", "and", "of", "to", "a", "in")

    def counts(x):
        stop_hits = sum(occurrences(x["p"], f" {w} ") for w in stop_words)
        return F.struct(
            F.length(x["t"]).cast("int").alias("n_chars_t"),
            _tokens_of_squeezed(x["s"]).alias("n_tokens_t"),
            occurrences(x["t"], ".").alias("n_periods"),
            occurrences(x["t"], ",").alias("n_commas"),
            stop_hits.cast("int").alias("n_stop_hits"),
            F.length(x["s"]).cast("int").alias("_sq_len"))

    def with_mwl(y):
        n = y["n_tokens_t"]
        # mean word length x100, integer division (portable): chars-
        # without-spaces * 100 / tokens — on the SQUEEZED length, not the
        # raw one: n_tokens counts squeezed whitespace, so raw length
        # would let every extra whitespace char inflate the mean word
        # length (a 950-char page of ten 5-char words read as mwl ~94
        # instead of ~5, wrongly failing the q_keep bound)
        mwl = F.when(n > 0, F.floor((y["_sq_len"] - (n - 1)) * F.lit(100) / n)
                     .cast("int")).otherwise(F.lit(0))
        return _let(mwl, lambda m: F.struct(
            # the counts above, in QUALITY_COLUMNS order
            *[y[c].alias(c) for c in QUALITY_COLUMNS[:-2]],
            m.alias("mwl_x100"),
            # keep gate: enough tokens, sane mean word length, stopwords
            ((n >= 10) & (m >= 200) & (m <= 1200)
             & (y["n_stop_hits"] >= 1)).alias("q_keep")))

    text = F.struct(col.alias("t"), squeeze_ws(col).alias("s"),
                    F.concat(F.lit(" "), col, F.lit(" ")).alias("p"))
    return _let(text, lambda x: _let(counts(x), with_mwl))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer quality-signal columns: char/token counts, punctuation,
    digits, stopword hits, mean word length x100 (integer), plus a boolean
    `q_keep` gate typical of web-text filtering (Gopher/C4-style rules,
    restated as integer comparisons). Same formula as `quality`, which
    a caller that only needs the gate filters on directly."""
    q = "_quality"
    return (df.withColumn(q, quality(F.col(text_col)))
            .withColumns({n: F.col(q)[n] for n in QUALITY_COLUMNS})
            .drop(q))


def word_ngrams(words_col: str, n: int):
    """Word n-gram array over a pre-split words column (JVM transform
    expression) — the SINGLE n-gram constructor shared by
    repetition_features and scrub.decontaminate (two hand-maintained
    copies drifted once; a fix to one silently missed the other).

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


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals: duplicate word-n-gram fractions
    (n = 2, 3) as x1000 integers — high values mark machine-generated /
    boilerplate-looping text. Pure JVM array expressions (split +
    transform + array_distinct), integer-exact and portable to the SQL
    oracle: floor(1000 * (n_grams - n_distinct) / n_grams)."""
    df = df.withColumn("_w", F.split(squeeze_ws(F.col(text_col)), " "))
    for n in (2, 3):
        df = df.withColumn(f"_g{n}", word_ngrams("_w", n)).withColumn(
            f"dup_{n}gram_x1000",
            F.when(F.size(f"_g{n}") > 0,
                   F.floor(F.lit(1000)
                           * (F.size(f"_g{n}") - F.size(F.array_distinct(f"_g{n}")))
                           / F.size(f"_g{n}")).cast("int"))
            .otherwise(F.lit(0)))
    return df.drop("_w", "_g2", "_g3")


def lang_id(df: DataFrame, text_col: str = "text",
            out_col: str = "pred_lang") -> DataFrame:
    """N-gram-heuristic language id: count language marker words, argmax
    with fixed tie-break order (en > de > fr > es). Deterministic, exact,
    portable; scan-speed (codegen, no UDF)."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    counts = {}
    for lang, words in LANG_MARKERS.items():
        total = None
        for w in words:
            occ = occurrences(padded, f" {w} ")
            total = occ if total is None else total + occ
        counts[lang] = total.cast("int")
        df = df.withColumn(f"lc_{lang}", counts[lang])
    c = {k: F.col(f"lc_{k}") for k in LANG_MARKERS}
    pred = (
        F.when((c["en"] >= c["de"]) & (c["en"] >= c["fr"]) & (c["en"] >= c["es"]), "en")
        .when((c["de"] >= c["fr"]) & (c["de"] >= c["es"]), "de")
        .when(c["fr"] >= c["es"], "fr")
        .otherwise("es")
    )
    # drop the per-language scratch counts: callers that don't re-select
    # shouldn't carry 4 extra columns through downstream shuffles
    return df.withColumn(out_col, pred).drop(*[f"lc_{k}" for k in LANG_MARKERS])


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized text. Identical
    in Spark and the SQL oracle; the basis for exact dedup."""
    return df.withColumn(
        out_col, F.md5(F.encode(squeeze_ws(F.col(text_col)), "UTF-8")))


def top_terms(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", k: int = 5) -> DataFrame:
    """Per-document keyword extraction by an INTEGER tf-idf surrogate:
    rank each document's distinct terms by (term frequency DESC, document
    frequency ASC, term ASC) and keep the top `k`. Ordering by ascending
    df IS the idf ordering (idf is monotone-decreasing in df), restated
    without the float logarithm so the driver oracle hashes exactly.

    Returns (id_col, term, tf, df_count, rank). Case folding is the
    ASCII translate table — NOT lower() — because Python/Java lower()
    diverge from SQL engines' on some Unicode (the kernel's rule).

    Scale shape: tf is a (doc, term) groupBy (partial-aggregated —
    stopword-heavy terms collapse map-side); df is a term groupBy over
    the already-distinct (doc, term) rows, joined back on the term key
    (vocabulary-sized frame, AQE-broadcastable for bounded vocabularies);
    the final rank window partitions by doc and is bounded by a single
    document's distinct-term count."""
    from pyspark.sql import Window

    folded = F.translate(
        F.coalesce(F.col(text_col), F.lit("")),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
    words = F.split(squeeze_ws(folded), " ")
    terms = (df.select(F.col(id_col), F.explode(words).alias("term"))
             .filter(F.col("term") != ""))
    tf = terms.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("int").alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("int").alias("df_count"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df_count").asc(), F.col("term").asc())
    return (tf.join(dfreq, "term")
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select(id_col, "term", "tf", "df_count", "rank"))
