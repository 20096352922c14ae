"""Document text signals of the curation chain — 100% JVM-side
expressions (no Python UDFs): the quality gate (`quality`, and
`quality_features` for its columns) and the md5 `fingerprint` exact
dedup keys on.

Every rule here is integer arithmetic over `pyspark.sql.functions`
primitives, so results are engine-portable (the DuckDB oracle runs the
same formulas) and whole-stage-codegen keeps them at scan speed: these
columns cost roughly nothing on top of reading the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


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
    normalization the quality features and fingerprints share."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def _tokens_of_squeezed(squeezed: Column) -> Column:
    return F.when(F.length(squeezed) == 0, F.lit(0)).otherwise(
        occurrences(squeezed, " ") + F.lit(1)
    ).cast("int")


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


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized text. Identical
    in Spark and the SQL oracle; the basis for exact dedup."""
    return df.withColumn(
        out_col, F.md5(F.encode(squeeze_ws(F.col(text_col)), "UTF-8")))
