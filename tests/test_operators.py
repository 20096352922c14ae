"""Operator tests against independent oracles (DuckDB SQL / pure Python),
on the driver-provided sf0.001 documents table."""

from __future__ import annotations

import hashlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS)


# -- textstats --------------------------------------------------------------

def test_fingerprint_matches_duckdb(spark, docs):
    from llmap_spark.operators.textstats import fingerprint

    got = {r.doc_id: r.fingerprint for r in
           fingerprint(docs).select("doc_id", "fingerprint").collect()}
    want = {r[0]: r[1] for r in duckdb.sql(f"""
        SELECT doc_id, md5(trim(regexp_replace(text,'\\s+',' ','g')))
        FROM '{DOCS}'""").fetchall()}
    assert got == want


def test_quality_mwl_on_whitespace_heavy_text(spark):
    """Mean word length must be computed on squeezed text: raw length let
    whitespace runs inflate mwl and wrongly fail the q_keep bound."""
    from llmap_spark.operators.textstats import quality_features

    words = ["the", "and", "words", "here", "going", "along", "fine",
             "today", "again", "still", "more", "words"]
    rows = [(1, " ".join(words)), (2, ("   \n\t  ").join(words))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.mwl_x100, r.q_keep)
           for r in quality_features(df).collect()}
    assert got[1] == got[2]  # whitespace amount cannot change the verdict
    assert got[1][1] is True


def _quality_text(n_tokens: int, n_chars: int, stop: bool) -> str:
    """n_tokens words with n_chars non-space chars in all, led by the
    stopword 'the' or by the non-stopword 'xxx'; the rest are runs of x."""
    rest, m = n_chars - 3, n_tokens - 1
    lens = [rest // m + (k < rest % m) for k in range(m)]
    return " ".join(["the" if stop else "xxx"] + ["x" * n for n in lens])


# (n_tokens, non-space chars, stopword) -> expected q_keep, one edge of
# each gate bound: mwl_x100 = chars * 100 // tokens
Q_EDGES = {
    "tokens_9": ((9, 36, True), False),
    "tokens_10": ((10, 40, True), True),
    "mwl_199": ((100, 199, True), False),
    "mwl_200": ((100, 200, True), True),
    "mwl_1200": ((100, 1200, True), True),
    "mwl_1201": ((100, 1201, True), False),
    "stop_hits_0": ((10, 40, False), False),
    "stop_hits_1": ((10, 40, True), True),
}


@pytest.fixture(scope="module")
def q_edges(spark):
    from llmap_spark.operators.textstats import quality_features

    df = spark.createDataFrame(
        [(k, _quality_text(*args)) for k, (args, _) in Q_EDGES.items()],
        "case string, text string")
    return {r.case: r for r in quality_features(df).collect()}


@pytest.mark.parametrize("case", Q_EDGES)
def test_quality_keep_gate_edges(q_edges, case):
    (n_tokens, n_chars, stop), keep = Q_EDGES[case]
    r = q_edges[case]
    assert (r.n_tokens_t, r.mwl_x100, r.n_stop_hits) == (
        n_tokens, n_chars * 100 // n_tokens, int(stop))
    assert r.q_keep is keep


# case -> a whitespace char, squeezed by squeeze_ws iff Java's \s matches
# it: [ \t\n\x0B\f\r], narrower than Python's str.split() (no U+00A0,
# no U+001C) and wider than DuckDB's RE2 \s (U+000B)
WS_CHARS = {
    "space": " ", "tab": "\t", "newline": "\n", "cr": "\r",
    "formfeed": "\f", "vtab": "\x0b", "nbsp": "\u00a0", "fs": "\u001c",
}
JAVA_WS = re.compile(r"[\t\n\x0b\f\r ]+")


def _ws_text(case: str) -> str:
    """The WS_CHARS char leading, doubled and trailing around three words."""
    c = WS_CHARS[case]
    return f"{c}alpha{c}{c}beta{c}gamma{c}"


def _is_java_ws(case: str) -> bool:
    return bool(JAVA_WS.fullmatch(WS_CHARS[case]))


@pytest.fixture(scope="module")
def ws_rows(spark):
    """Every _ws_text case through fingerprint and quality_features."""
    from llmap_spark.operators.textstats import fingerprint, quality_features

    rows = [(k, _ws_text(k)) for k in WS_CHARS]
    df = spark.createDataFrame(rows, "case string, text string")
    return {r.case: r for r in
            quality_features(fingerprint(df)).collect()}


@pytest.mark.parametrize("case", WS_CHARS)
def test_squeeze_ws_is_javas_whitespace_class(ws_rows, case):
    # Spark's trim strips only the space, so strip(" "), not strip()
    squeezed = JAVA_WS.sub(" ", _ws_text(case)).strip(" ")
    r = ws_rows[case]
    assert r.fingerprint == hashlib.md5(squeezed.encode()).hexdigest()
    assert r.n_tokens_t == squeezed.count(" ") + 1


# text -> n_stop_hits: a stopword counts only as a whole, lower-case,
# space-delimited word, and adjacent repeats share their delimiter
STOP_EDGES = {
    "capitalized": ("The", 0),
    "trailing_period": ("the.", 0),
    "prefix_of_word": ("there", 0),
    "adjacent_repeats": ("the the the", 2),
}


@pytest.fixture(scope="module")
def stop_hits(spark):
    from llmap_spark.operators.textstats import quality_features

    df = spark.createDataFrame(
        [(k, text) for k, (text, _) in STOP_EDGES.items()],
        "case string, text string")
    return {r.case: r.n_stop_hits for r in quality_features(df).collect()}


@pytest.mark.parametrize("case", STOP_EDGES)
def test_stop_hits_word_boundaries(stop_hits, case):
    assert stop_hits[case] == STOP_EDGES[case][1]


# text -> (n_tokens_t, q_keep) for texts with no word: NULL text has no
# token count, and none of them passes the gate
EMPTY_TEXTS = {
    "null": (None, (None, False)),
    "empty": ("", (0, False)),
    "whitespace_only": (" \t\n\r ", (0, False)),
}


@pytest.fixture(scope="module")
def empty_texts(spark):
    from llmap_spark.operators.textstats import quality_features

    df = spark.createDataFrame(
        [(k, text) for k, (text, _) in EMPTY_TEXTS.items()],
        "case string, text string")
    return {r.case: (r.n_tokens_t, r.q_keep)
            for r in quality_features(df).collect()}


@pytest.mark.parametrize("case", EMPTY_TEXTS)
def test_quality_of_wordless_text(empty_texts, case):
    assert empty_texts[case] == EMPTY_TEXTS[case][1]


# text -> (n, the grams word_ngrams builds from the text's words)
WORD_NGRAMS = {
    "fewer_words_than_n": ("a b", 3, []),
    "exactly_n_words": ("a b c", 3, ["a b c"]),
    "sliding_window": ("a b c d", 2, ["a b", "b c", "c d"]),
    "unigrams": ("a b", 1, ["a", "b"]),
    "repeated_grams_kept": ("x y x y x", 2, ["x y", "y x", "x y", "y x"]),
    "blank_text_unigrams": ("   ", 1, []),
    "null_text_unigrams": (None, 1, []),
    "null_text_bigrams": (None, 2, []),
}


@pytest.fixture(scope="module")
def word_ngrams_built(spark):
    """Every WORD_NGRAMS case through one query, on words split at the
    spaces of the squeeze_ws-normalized text."""
    from llmap_spark.operators.scrub import word_ngrams
    from llmap_spark.operators.textstats import squeeze_ws

    rows = [(k, text) for k, (text, _, _) in WORD_NGRAMS.items()]
    df = spark.createDataFrame(rows, "case string, text string").withColumn(
        "_w", F.split(squeeze_ws(F.col("text")), " "))
    cols = {n: word_ngrams("_w", n).alias(f"g{n}")
            for n in sorted({n for _, n, _ in WORD_NGRAMS.values()})}
    got = df.select("case", *cols.values()).collect()
    return {r.case: r[f"g{WORD_NGRAMS[r.case][1]}"] for r in got}


@pytest.mark.parametrize("case", WORD_NGRAMS)
def test_word_ngrams(word_ngrams_built, case):
    assert word_ngrams_built[case] == WORD_NGRAMS[case][2]


# -- whitespace through decontamination and paragraph dedup ----------------

@pytest.fixture(scope="module")
def ws_scrub(spark):
    """Every WS_CHARS case through the scrub operators. Case i's texts
    carry i in their first word, so a case can only match its own twin:
    `led(i)` puts the char before that word, `plain(i)` does not."""
    from llmap_spark.operators.scrub import (_with_words, contaminated_ids,
                                             decontaminate, dedup_paragraphs)

    cases = list(WS_CHARS)

    def led(i):
        return WS_CHARS[cases[i]] + f"alpha{i} beta gamma"

    def plain(i):
        return f"alpha{i} beta gamma"

    def docs(text):
        return spark.createDataFrame(
            [(i, text(i)) for i in range(len(cases))],
            "doc_id long, text string")

    def bench(text):
        return spark.createDataFrame(
            [(text(i),) for i in range(len(cases))], "text string")

    words = _with_words(spark.createDataFrame(
        [(k, _ws_text(k)) for k in cases], "case string, text string"),
        "text", "_w").collect()
    flagged = {side: {cases[r.doc_id] for r in
                      contaminated_ids(docs(d), bench(b), n=3).collect()}
               for side, d, b in (("doc", led, plain),
                                  ("bench", plain, led))}
    hits = decontaminate(docs(lambda i: led(i) + " delta"),
                         bench(lambda i: plain(i) + " delta"), n=3)
    # the char as a paragraph of its own at the end of two documents
    paras = spark.createDataFrame(
        [(2 * i + j, f"{w}_{k}\n\n{WS_CHARS[k]}")
         for i, k in enumerate(cases) for j, w in enumerate("ab")],
        "doc_id long, text string")
    return {
        "words": {r.case: r._w for r in words},
        "flagged": flagged,
        "n_hits": {cases[r.doc_id]: r.n_hits for r in hits.collect()},
        "second_copy": {cases[r.doc_id // 2]: (r.text_clean, r.n_paras_kept)
                        for r in dedup_paragraphs(paras).collect()
                        if r.doc_id % 2},
    }


@pytest.mark.parametrize("case", WS_CHARS)
def test_gram_words_split_squeezed_text(ws_scrub, case):
    words = JAVA_WS.sub(" ", _ws_text(case)).strip(" ").split(" ")
    assert ws_scrub["words"][case] == words


@pytest.mark.parametrize("side", ["doc", "bench"])
@pytest.mark.parametrize("case", WS_CHARS)
def test_contaminated_ids_whitespace_led(ws_scrub, side, case):
    """A leading whitespace char on either side is not part of the first
    word, so the texts share their one 3-gram; a char Java's \\s does
    not match is part of it."""
    assert (case in ws_scrub["flagged"][side]) == _is_java_ws(case)


@pytest.mark.parametrize("case", WS_CHARS)
def test_decontaminate_hits_whitespace_led_doc(ws_scrub, case):
    # both grams shared, or only "beta gamma delta" when the char sticks
    # to the first word
    assert ws_scrub["n_hits"][case] == (2 if _is_java_ws(case) else 1)


@pytest.mark.parametrize("case", WS_CHARS)
def test_paragraph_dedup_whitespace_paragraph(ws_scrub, case):
    """Two documents end in the same one-char paragraph. A blank one
    (Java's \\s) is spacing and survives in both; any other is content,
    and the second document's copy is deduplicated."""
    assert ws_scrub["second_copy"][case] == (
        (f"b_{case}\n\n{WS_CHARS[case]}", 2) if _is_java_ws(case)
        else (f"b_{case}", 1))


@pytest.mark.parametrize("case", WS_CHARS)
def test_oracle_words_match_gram_builder(ws_scrub, case):
    """The DuckDB oracles' word split (WORDS_SQL) gives the gram
    builder's words, except that RE2's \\s has no U+000B: DuckDB keeps
    that char, and so the whole text, as one word."""
    from __spark_entry__ import WORDS_SQL

    text = _ws_text(case)
    (got,) = duckdb.execute(f"SELECT {WORDS_SQL} FROM (SELECT ? AS text)",
                            [text]).fetchone()
    if case == "vtab":
        assert got == [text] != ws_scrub["words"][case]
    else:
        assert got == ws_scrub["words"][case]


# -- dedup ------------------------------------------------------------------

def test_exact_dedup_finds_planted_dups(spark, docs):
    from llmap_spark.operators.dedup import exact_dedup

    # plant exact duplicates with new ids
    dup = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 100000)
    d = exact_dedup(docs.unionByName(dup))
    dups = d.filter("is_dup").select("doc_id", "rep_id").collect()
    assert len(dups) == 20
    for r in dups:
        assert r.doc_id == r.rep_id + 100000


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """Planted near-dups (doc text + small suffix) must be found."""
    from llmap_spark.operators.dedup import minhash_lsh_candidates

    near = (docs.limit(30)
            .withColumn("doc_id", F.col("doc_id") + 100000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" tiny suffix"))))
    allr = docs.unionByName(near)
    cand = minhash_lsh_candidates(allr)
    pairs = {(r.id_a, r.id_b) for r in cand.filter("est_jaccard >= 0.5").collect()}
    found = sum((d, d + 100000) in pairs for d in range(30))
    assert found >= 27  # >=90% recall on planted near-dups
    # est_jaccard should be high for planted pairs
    ests = [r.est_jaccard for r in cand.collect()
            if (r.id_a, r.id_b) in {(d, d + 100000) for d in range(30)}]
    assert ests and min(ests) > 0.5


def _union_find_oracle(edges) -> dict:
    """Python union-find: node -> minimum id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_vs_union_find(spark):
    from llmap_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (12, 11), (20, 21), (3, 4), (40, 41)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    want = _union_find_oracle(edges)
    assert got == want
    # both execution strategies produce the identical labeling: the
    # default adaptive driver fast path (taken here: 14 directed edges)
    # and the forced distributed pointer-doubling loop
    dist = {r.node: r.component for r in
            connected_components(pairs, driver_threshold=0).collect()}
    assert dist == want


# name -> (pairs, driver_threshold, takes the driver path). The driver
# path is taken iff 2 x raw pairs <= driver_threshold: 4 pairs at 8.
CC_CASES = {
    "at_limit": ([(1, 2), (3, 4), (5, 6), (7, 8)], 8, True),
    "one_over_limit": ([(1, 2), (3, 4), (5, 6), (7, 8), (9, 10)], 8, False),
    "dup_and_reversed": ([(2, 1), (1, 2), (1, 2), (3, 2)], 8, True),
    "dup_and_reversed_over_limit":
        ([(2, 1), (1, 2), (1, 2), (3, 2), (5, 4)], 8, False),
    "threshold_zero": ([(1, 2), (2, 3)], 0, False),
    "odd_threshold": ([(1, 2), (3, 4), (5, 6), (7, 8)], 9, True),
}


@pytest.mark.parametrize("case", list(CC_CASES))
def test_cc_single_bounded_collect(spark, case):
    """One bounded collect decides the path and feeds the union-find: the
    labels equal the oracle on both sides of the threshold, and the driver
    path runs no count job. A limit one row short would label a truncated
    pair set as if it were whole (one_over_limit). The collect is one
    task in one stage on both paths: a bare limit would shuffle up to the
    limit from every partition into one reducer."""
    from llmap_spark.operators.dedup import connected_components

    edges, threshold, driver = CC_CASES[case]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    sc = spark.sparkContext
    group = f"cc-collect-{case}"
    sc.setJobGroup(group, group)
    try:
        comp = connected_components(pairs, driver_threshold=threshold)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    # the driver path's labels carry the broadcast hint, the distributed
    # path's do not
    hinted = "broadcast" in comp._jdf.queryExecution().analyzed().toString()
    assert hinted == driver
    assert {r.node: r.component for r in comp.collect()} == \
        _union_find_oracle(edges)
    tracker = sc.statusTracker()
    jobs = [[tracker.getStageInfo(s)
             for s in sorted(tracker.getJobInfo(j).stageIds)]
            for j in sorted(tracker.getJobIdsForGroup(group))]
    names = [[s.name.split(" at ")[0] for s in job] for job in jobs]
    probes = [job for job, n in zip(jobs, names) if "toPandas" in n]
    if threshold > 0:
        assert [[s.numTasks for s in job] for job in probes] == [[1]], names
    if driver:
        # the pair checkpoint, then the bounded collect: no count job
        # (whose AQE stages are named after CompletableFuture)
        assert names == [["localCheckpoint"], ["toPandas"]], names


@pytest.mark.parametrize("id_type,simple", [
    ("long", "bigint"), ("int", "int"), ("string", "string")])
def test_cc_driver_labels_keep_id_type(spark, id_type, simple):
    """The Arrow-built driver-path labels come back in the input id type
    with the oracle's labels (strings order as strings)."""
    from llmap_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (12, 11), (40, 9)]
    if id_type == "string":
        edges = [(str(a), str(b)) for a, b in edges]
    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    comp = connected_components(pairs)
    assert [f.dataType.simpleString() for f in comp.schema] == [simple] * 2
    assert [f.name for f in comp.schema] == ["node", "component"]
    assert {r.node: r.component for r in comp.collect()} == \
        _union_find_oracle(edges)


def test_exact_dedup_null_text_never_dup(spark):
    from llmap_spark.operators.dedup import exact_dedup

    rows = [(1, "same real content here"), (2, "same real content here"),
            (3, None), (4, None), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.rep_id, r.is_dup) for r in exact_dedup(df).collect()}
    assert got[1] == (1, False) and got[2] == (1, True)
    # null-text docs are UNKNOWN content, each its own representative
    for d in (3, 4, 5):
        assert got[d] == (d, False)


def test_exact_dedup_preserves_rows_and_extra_columns(spark):
    """The verdict re-attach must neither drop nor multiply rows: every
    input row (including a pathological NULL-id one) comes back exactly
    once with its extra columns intact, and a pre-existing fingerprint
    column is replaced, not ambiguated (the round-4 single-md5-pass
    rewrite briefly used an inner id join that dropped null-id rows)."""
    from llmap_spark.operators.dedup import exact_dedup

    rows = [(1, "same real content here", "a", "stale"),
            (2, "same real content here", "b", "stale"),
            (None, "loner content row", "c", "stale"),
            (7, None, "d", "stale")]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, tag string, fingerprint string")
    out = exact_dedup(df).collect()
    assert len(out) == len(rows)
    got = {r.tag: r for r in out}
    assert got["a"].rep_id == 1 and got["b"].is_dup
    assert got["a"].fingerprint != "stale"  # replaced, not duplicated
    # null id survives as its own row, with is_dup FALSE not NULL — a
    # NULL is_dup would make downstream filter(~is_dup) silently drop it
    assert got["c"].rep_id is None
    assert got["c"].is_dup is False
    assert got["d"].fingerprint is None and not got["d"].is_dup


# -- review-fix regressions ---------------------------------------------------

def test_shingleless_docs_are_not_duplicates(spark):
    from llmap_spark.operators.dedup import minhash_lsh_candidates

    rows = [(1, "a"), (2, "zz"), (3, ""), (4, "   "),
            (5, "a real document with plenty of words to shingle properly today"),
            (6, "a real document with plenty of words to shingle properly today")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(df).collect()}
    assert mh == {(5, 6)}  # tiny/empty docs never pair with each other


def test_training_pipeline_kept_documents(spark, docs):
    """End-to-end curation on planted data: low-quality docs gated, exact
    duplicates collapse to the min id, near-duplicates collapse to the min
    id of their component, everything else survives."""
    from llmap_spark.plans.training import kept_documents

    base = docs.limit(40)  # real corpus docs: all pass the quality gate
    exact_dup = (base.filter("doc_id < 5")
                 .withColumn("doc_id", F.col("doc_id") + 200000))
    near_dup = (base.filter("doc_id >= 5 and doc_id < 10")
                .withColumn("doc_id", F.col("doc_id") + 300000)
                .withColumn("text", F.concat(F.col("text"), F.lit(" tiny tail"))))
    junk = spark.createDataFrame(
        [(400000, "short"), (400001, "zz qq"), (400002, "")],
        "doc_id long, text string").withColumn("lang", F.lit("en")) \
        .withColumn("n_chars", F.length("text"))
    allr = base.unionByName(exact_dup.select(*junk.columns)
                            .unionByName(near_dup.select(*junk.columns))
                            .unionByName(junk), allowMissingColumns=True)
    kept = {r.doc_id for r in kept_documents(allr).collect()}
    # every planted duplicate/junk id is gone; winners are originals
    assert all(k < 40 for k in kept)
    assert set(range(5)) <= kept          # exact-dup winners survive
    assert set(range(5, 10)) <= kept      # near-dup winners survive
    # corpus-specific but deterministic facts (sf0.001 documents):
    # 14/27/32/33 fail the quality gate; 12 is a GENUINE near-dup of 8
    # already present in the corpus (est_jaccard ~0.98) and loses to it
    assert kept == set(range(40)) - {14, 27, 32, 33, 12}
    # determinism
    kept2 = {r.doc_id for r in kept_documents(allr).collect()}
    assert kept == kept2


def test_training_pipeline_respects_text_col(spark, docs):
    """The quality gate must read the configured text column (it silently
    hard-coded 'text' once: wrong gate when a stale 'text' column exists)."""
    from llmap_spark.plans.training import kept_documents

    renamed = (docs.limit(30).withColumnRenamed("text", "body")
               .withColumn("text", F.lit("zz")))  # stale decoy column
    kept = {r.doc_id for r in
            kept_documents(renamed, text_col="body").collect()}
    # with the decoy gating, nothing would pass quality at all
    assert len(kept) >= 20


def test_curated_corpus_composes_scrub_stages(spark, docs):
    """The deliverable chain: keep-list survivors come back with text,
    contaminated docs drop, cross-doc duplicate paragraphs vanish, and PII
    redacts — all in one lazy plan."""
    from llmap_spark.plans.training import curated_corpus

    # deterministic slice: limit() on an unordered scan can pick different
    # rows across the many branch evaluations below
    base = docs.filter("doc_id < 20")
    pii = spark.createDataFrame(
        [(500000, "a perfectly fine long document about sorting that asks "
                  "you to write to someone@example.com for more details "
                  "and enough words to pass every quality gate today")],
        "doc_id long, text string")
    allr = base.select("doc_id", "text").unionByName(pii)
    # benchmark = doc 0's text: doc 0 must drop as contaminated
    bench = base.filter("doc_id = 0").select("text")
    out = {r.doc_id: r for r in
           curated_corpus(allr, benchmark=bench).collect()}
    assert 0 not in out                      # decontaminated away
    assert 500000 in out
    assert "<EMAIL>" in out[500000].text     # redacted
    assert "someone@example.com" not in out[500000].text
    assert out[500000].n_emails == 1
    # quality-gate failures from the sf0.001 corpus prefix (see
    # test_training_pipeline_kept_documents): 14 fails the gate
    assert 14 not in out


def test_connected_components_nonconvergence_raises(spark):
    from llmap_spark.operators.dedup import connected_components

    # pointer doubling reaches distance ~2^rounds, so a diameter-60 chain
    # cannot converge in 2 rounds
    chain = [(i, i + 1) for i in range(60)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2, driver_threshold=0)


def test_connected_components_long_path_converges_fast(spark):
    """A 1000-node path has diameter 1000: one-hop min propagation needs
    ~1000 rounds, pointer doubling must finish within ~log2(1000)+slack."""
    from llmap_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(999)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    out = connected_components(pairs, max_iter=16, driver_threshold=0)
    comps = {r.component for r in out.collect()}
    assert comps == {0}
    assert out.count() == 1000


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """A checkpoint_dir switches the iteration to reliable checkpoints
    (recoverable on executor loss, unlike localCheckpoint): the labels
    must be identical and the rounds must land in that directory."""
    from llmap_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (12, 11), (3, 4), (40, 41)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {r.node: r.component for r in connected_components(pairs).collect()}
    got = {r.node: r.component for r in
           connected_components(pairs, driver_threshold=0,
                                checkpoint_dir=str(tmp_path / "ck")).collect()}
    assert got == want
    assert any(p.is_file() for p in (tmp_path / "ck").rglob("*"))


def test_release_persisted_registry(spark, docs):
    """Lazy operators register their persisted frames; release_persisted
    unpersists them all (the round-2 leak-by-default ADVICE item)."""
    from llmap_spark.cache import release_persisted
    from llmap_spark.operators.dedup import minhash_lsh_candidates

    release_persisted()  # drain anything earlier tests left behind
    cand = minhash_lsh_candidates(docs.limit(50))  # lazy default
    cand.count()
    assert release_persisted() >= 1
    assert release_persisted() == 0  # drained; second call is a no-op


def test_minhash_duplicate_ids_no_self_pairs(spark):
    """A duplicated doc_id in the input must not emit (x, x) self-pairs
    from the in-array pair expansion (the self-join branch's strict <
    filter applies to the grouped branch too)."""
    from llmap_spark.operators.dedup import minhash_lsh_candidates

    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [(1, base), (1, base), (2, base + " tail")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_candidates(df, materialize=True).collect()
    assert all(r.id_a < r.id_b for r in pairs)
