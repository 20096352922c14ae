"""Scrubbing operators: paragraph dedup, PII redaction, decontamination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llmap_spark.operators.scrub import (contaminated_ids, decontaminate,
                                         dedup_paragraphs, redact_pii)


def test_paragraph_dedup_keeps_first_occurrence(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta\n\ncommon boiler\n\ngamma"),
         (1, "common boiler\n\ndelta"),
         (2, "common boiler"),            # fully-duplicate doc survives empty
         (3, "alpha beta\n\nalpha beta"),  # within-doc repeat: keep first
         (4, None)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    assert got[0].text_clean == "alpha beta\n\ncommon boiler\n\ngamma"
    assert got[1].text_clean == "delta"
    assert got[2].text_clean == "" and got[2].n_paras_kept == 0
    assert got[3].text_clean == ""  # both paras lost to doc 0's copy
    assert got[3].n_paras == 2
    assert got[4].text_clean == "" or got[4].text_clean is None
    assert len(got) == 5  # never loses rows


def test_paragraph_dedup_normalizes_whitespace_for_identity(spark):
    docs = spark.createDataFrame(
        [(0, "spaced   out"), (1, "spaced out")], "doc_id long, text string")
    got = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    # doc 1's paragraph is a normalized duplicate of doc 0's
    assert got[0].n_paras_kept == 1 and got[1].n_paras_kept == 0


def test_redact_pii_counts_and_replaces(spark):
    docs = spark.createDataFrame(
        [(0, "mail a@b.io and c.d+x@e-f.org, ip 10.0.0.1, call 555-123-4567"),
         (1, "no pii here"),
         (2, None)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert (got[0].n_emails, got[0].n_ipv4, got[0].n_phones) == (2, 1, 1)
    assert got[0].text_redacted == \
        "mail <EMAIL> and <EMAIL>, ip <IP>, call <PHONE>"
    assert (got[1].n_emails, got[1].n_ipv4, got[1].n_phones) == (0, 0, 0)
    assert got[1].text_redacted == "no pii here"
    assert got[2].text_redacted == ""


def test_redact_pii_email_wins_over_ip_like_domain(spark):
    docs = spark.createDataFrame(
        [(0, "x@10.0.0.1.com evil"),
         (1, "call 555-123-4567@site.example today")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    # the ip-like mail domain redacts as ONE email, not an ip inside it —
    # and the counts agree with the placeholders actually inserted
    assert got[0].n_emails == 1 and got[0].text_redacted == "<EMAIL> evil"
    assert got[0].n_ipv4 == 0 and got[0].n_phones == 0
    # a phone swallowed by the email match is not also counted as a phone
    assert got[1].n_emails == 1 and got[1].n_phones == 0
    assert got[1].text_redacted == "call <EMAIL> today"


# (text, (n_emails, n_ipv4, n_phones)): near-misses each regex must leave
# alone, then the nearest strings it does match
PII_EDGES = [
    ("555-1234", (0, 0, 0)),          # local number, no area code
    ("55-123-4567", (0, 0, 0)),
    ("555-123-456", (0, 0, 0)),
    ("5555-123-4567", (0, 0, 0)),     # word boundary before the match
    ("555-123-45678", (0, 0, 0)),     # ... and after it
    ("555.123.4567", (0, 0, 0)),      # dots are not the phone separator
    ("1.2.3", (0, 0, 0)),             # three octets, e.g. a version
    ("10.0.0", (0, 0, 0)),
    ("1234.1.1.1", (0, 0, 0)),        # four-digit first group
    ("a@b", (0, 0, 0)),               # no dot in the domain
    ("x@y.z", (0, 0, 0)),             # one-letter top-level domain
    ("me@example.c0m", (0, 0, 0)),    # digit splits the TLD letters
    ("user@localhost", (0, 0, 0)),
    ("@example.com", (0, 0, 0)),      # empty local part
    ("x@y.zz", (1, 0, 0)),
    ("555-123-4567", (0, 0, 1)),
    ("1.2.3.4", (0, 1, 0)),
    ("999.999.999.999", (0, 1, 0)),   # octet values are not range-checked
]


@pytest.fixture(scope="module")
def pii_edges(spark):
    df = spark.createDataFrame(
        [(i, f"see {t} here") for i, (t, _) in enumerate(PII_EDGES)],
        "doc_id long, text string")
    return {r.doc_id: r for r in redact_pii(df).collect()}


@pytest.mark.parametrize("i", range(len(PII_EDGES)),
                         ids=[t for t, _ in PII_EDGES])
def test_redact_pii_edges(pii_edges, i):
    text, counts = PII_EDGES[i]
    r = pii_edges[i]
    assert (r.n_emails, r.n_ipv4, r.n_phones) == counts
    if counts == (0, 0, 0):
        assert r.text_redacted == f"see {text} here"
    else:
        assert text not in r.text_redacted


def test_decontaminate_flags_shared_ngrams(spark):
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps"),
         (1, "totally clean words only here"),
         (2, "a b")],  # < n words: no n-grams, excluded
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [("quick brown fox benchmark sentence",)], "text string")
    got = {r.doc_id: r for r in decontaminate(docs, bench, n=3).collect()}
    assert got[0].contaminated == 1 and got[0].n_hits == 1
    assert got[1].contaminated == 0 and got[1].n_hits == 0
    assert 2 not in got


def test_decontaminate_counts_distinct_grams(spark):
    docs = spark.createDataFrame(
        [(0, "x y z x y z x y z")], "doc_id long, text string")
    bench = spark.createDataFrame([("x y z",), ("y z x",)], "text string")
    r = decontaminate(docs, bench, n=3).collect()[0]
    # doc grams: {x y z, y z x, z x y} -> 2 distinct hits despite repeats
    assert r.n_hits == 2


def test_decontaminate_empty_benchmark_is_all_clean(spark):
    docs = spark.createDataFrame(
        [(0, "some perfectly ordinary words here")],
        "doc_id long, text string")
    bench = spark.createDataFrame([], "text string")
    r = decontaminate(docs, bench, n=3).collect()[0]
    assert (r.n_hits, r.contaminated) == (0, 0)


def test_decontaminate_blank_docs_never_match_blank_benchmark_row(spark):
    """At n=1, split('') is [''], so without word_ngrams' blank-text guard
    every blank, whitespace-only or NULL doc would share the '' gram with a
    blank benchmark row and be flagged contaminated."""
    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "\n\t "), (3, None),
         (4, "shared word"), (5, "clean text")],
        "doc_id long, text string")
    bench = spark.createDataFrame([("",), ("   ",), ("shared",)],
                                  "text string")
    got = {r.doc_id: r for r in decontaminate(docs, bench, n=1).collect()}
    for d in (0, 1, 2, 3):
        assert d not in got or got[d].contaminated == 0
    assert (got[4].n_hits, got[4].contaminated) == (1, 1)
    assert got[5].contaminated == 0


def test_paragraph_dedup_preserves_blank_paragraphs(spark):
    """Blank paragraphs are spacing, not content: they must NOT dedup
    corpus-wide to one arbitrary winner (every other doc's spacing would
    silently mutate)."""
    docs = spark.createDataFrame(
        [(0, "p\n\n\n\nq"),      # the '' between the four newlines
         (1, "x\n\n\n\ny"),      # ... must survive here too
         (2, "a\n\n \n\nb")],    # whitespace-only paragraph: same rule
        "doc_id long, text string")
    got = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    assert got[0].text_clean == "p\n\n\n\nq" and got[0].n_paras_kept == 3
    assert got[1].text_clean == "x\n\n\n\ny" and got[1].n_paras_kept == 3
    assert got[2].text_clean == "a\n\n \n\nb" and got[2].n_paras_kept == 3


def test_paragraph_dedup_sep_is_literal_not_regex(spark):
    """A separator containing regex metacharacters must split literally
    (the \\Q..\\E quoting contract), not explode into per-char splits."""
    docs = spark.createDataFrame(
        [(0, "alpha|+|beta|+|alpha")], "doc_id long, text string")
    r = dedup_paragraphs(docs, sep="|+|").collect()[0]
    assert r.n_paras == 3
    assert r.text_clean == "alpha|+|beta"  # third para deduped vs first
    assert r.n_paras_kept == 2


@pytest.mark.parametrize("n, n_rows", [(1, 12), (3, 4)])
def test_contaminated_ids_match_decontaminate(spark, n, n_rows):
    """The curation chain's drop set (contaminated_ids) is decontaminate's
    contaminated = 1 set, on docs shorter than n words, NULL and blank
    text, blank benchmark rows and grams repeated on both sides. The
    drop set holds one row per matching document gram occurrence: the
    benchmark side is not distinct-ed, so its repeated gram must not
    multiply the rows."""
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps"),
         (1, "x y z x y z"),
         (2, "a b"),
         (3, None), (4, ""), (5, "   "),
         (6, "totally clean words only here"),
         (7, "  quick   brown\tfox  ")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [("quick brown fox benchmark sentence",), ("x y z",), ("x y z",),
         ("",), ("  ",), (None,)], "text string")
    dropped = [r.doc_id for r in contaminated_ids(docs, bench, n=n).collect()]
    flagged = {r.doc_id for r in decontaminate(docs, bench, n=n)
               .filter("contaminated = 1").collect()}
    assert set(dropped) == flagged == {0, 1, 7}
    assert len(dropped) == n_rows


def test_decontaminate_plan_broadcasts_benchmark(spark):
    docs = spark.createDataFrame(
        [(0, "the quick brown fox")], "doc_id long, text string")
    bench = spark.createDataFrame([("quick brown fox",)], "text string")
    plan = decontaminate(docs, bench, n=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
