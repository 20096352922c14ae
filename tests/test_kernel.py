"""Golden + property tests for the deterministic extraction kernel.

Mirrors the role of the reference's manual CLI harness (reference
parse.py:254-281) — the only self-contained correctness tool there — but
automated, as SURVEY.md §5.2 requires.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings, strategies as st

from llmap_spark import kernel


PAGE = b"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>T</title>
<script>var hidden = "never extracted";</script>
<style>.x{color:red}</style></head><body>
<header><h1>Big Site</h1><nav><ul>
<li><a href="/a">Home</a></li><li><a href="/b">News</a></li></ul></nav></header>
<main><article>
<p>This is the first real paragraph of the article body with plenty of words
to clear the minimum token threshold for keeping content blocks.</p>
<p>Short linky bit.</p>
<p>The second real paragraph also has enough running text to be treated as
main content by the density classifier in the extraction kernel.</p>
</article></main>
<aside><a href="/ad1">Buy now</a><a href="/ad2">Click here</a></aside>
<footer><p><a href="/p">privacy</a> | <a href="/t">terms</a></p></footer>
</body></html>"""


def test_extracts_main_content_drops_boilerplate():
    r = kernel.extract_page(PAGE)
    assert r.status == "ok"
    assert "first real paragraph" in r.extracted_text
    assert "second real paragraph" in r.extracted_text
    assert "hidden" not in r.extracted_text
    assert "Buy now" not in r.extracted_text
    assert "privacy" not in r.extracted_text
    assert "Home" not in r.extracted_text
    assert r.n_blocks_kept >= 2
    # blank-line stitching, document order
    i1 = r.extracted_text.index("first real")
    i2 = r.extracted_text.index("second real")
    assert i1 < i2
    assert "\n\n" in r.extracted_text


def test_neighbor_rescue_two_pass():
    # short middle block between two kept paragraphs is rescued (mirrors the
    # reference's two-pass refine shape, prompts.py:104-117)
    html = (
        "<html><body>"
        "<p>First long paragraph with clearly more than eight running words inside it.</p>"
        "<p>tiny middle bridge text</p>"
        "<p>Second long paragraph also with clearly more than eight running words here.</p>"
        "</body></html>"
    ).encode()
    r = kernel.extract_page(html)
    assert "tiny middle bridge text" in r.extracted_text
    assert r.n_blocks_kept == 3
    # without kept neighbors the same block is dropped
    html2 = b"<html><body><p>tiny middle bridge text</p></body></html>"
    r2 = kernel.extract_page(html2)
    assert r2.extracted_text == ""


def test_spans_point_into_decoded_doc():
    dec = kernel.decode_html(PAGE)
    blocks, body, perr = kernel.parse_blocks(dec.text)
    keep = kernel.classify(blocks)
    text, spans = kernel.stitch(blocks, keep)
    assert body and not perr
    for b, k in zip(blocks, keep):
        assert 0 <= b.start < b.end <= len(dec.text)
        raw = " ".join(dec.text[b.start:b.end].split())
        # span covers [first text piece, last text piece] — intervening
        # inline markup may sit inside, but the boundaries are exact
        first, last = b.text.split()[0], b.text.split()[-1]
        assert raw.startswith(first)
        assert raw.endswith(last)
    assert len(spans) == sum(keep)
    assert spans == sorted(spans)  # document order


def test_statuses():
    assert kernel.extract_page(b"").status == "empty"
    assert kernel.extract_page(None).status == "empty"
    assert kernel.extract_page(b"   \n ").status == "empty"
    assert kernel.extract_page(b"<p>no body tag here at all</p>").status == "no_body"
    big = b"<html><body><p>" + b"word " * 300_000 + b"</p></body></html>"
    assert kernel.extract_page(big).status == "truncated"
    latin = b"<html><body><p>caf\xe9 latin bytes</p></body></html>"
    assert kernel.extract_page(latin).status == "decode_replaced"


def test_entities_and_charset():
    html = b'<html><head><meta charset="latin-1"></head><body><p>' \
           b'caf\xe9 &amp; cr&egrave;me br&#251;l&eacute;e with extra words to pass the filter</p></body></html>'
    r = kernel.extract_page(html)
    assert r.status == "ok"
    assert "caf\xe9 & cr\xe8me br\xfbl\xe9e" in r.extracted_text


def test_bom_sniffing():
    body = ("<html><body><p>byte order marked page with plenty of words to"
            " clear the keep threshold easily now</p></body></html>")
    for enc, bom in (("utf-16-le", b"\xff\xfe"), ("utf-16-be", b"\xfe\xff")):
        payload = bom + body.encode(enc)
        r = kernel.extract_page(payload)
        assert r.status == "ok", enc
        assert "byte order marked page" in r.extracted_text, enc
    # UTF-8 BOM: stripped, no U+FEFF leading the text
    r8 = kernel.extract_page(b"\xef\xbb\xbf" + body.encode("utf-8"))
    assert r8.status == "ok"
    assert r8.extracted_text.startswith("byte order marked")


def test_bounded_work_caps():
    huge = b"<html><body><p>" + b"a" * (kernel.MAX_HTML_BYTES + 100) + b"</p></body></html>"
    r = kernel.extract_page(huge)
    assert r.status == "truncated"
    assert len(r.extracted_text) <= kernel.MAX_TEXT_BYTES


def test_determinism_repeat():
    for _ in range(3):
        a = kernel.extract_page(PAGE)
        b = kernel.extract_page(PAGE)
        assert a == b


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_total_on_arbitrary_bytes(data):
    # kernel must never raise on any byte input (malformed-HTML totality)
    r = kernel.extract_page(data)
    assert isinstance(r.extracted_text, str)
    assert r.status in {"ok", "empty", "parse_error", "truncated",
                        "decode_replaced", "no_body"}


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet="<>!-?/ab cpAPSB=\"'&#;İ\n", max_size=2048))
def test_total_on_taggy_text(txt):
    # '!', '-', '?', uppercase and 'İ' reach the comment, declaration,
    # processing-instruction and case-folded tag-name paths of the scanner
    blocks, _, perr = kernel.parse_blocks(txt)
    assert not perr
    for b in blocks:
        assert 0 <= b.start < b.end <= len(txt)
    html = txt.encode("utf-8")
    r = kernel.extract_page(html)
    assert isinstance(r.extracted_text, str)
    n = len(kernel.decode_html(html).text)
    for s, e in r.spans:
        assert 0 <= s < e <= n


def test_integer_rule_equivalence():
    # keep decisions must not depend on float densities (Arrow-boundary
    # safety): re-derive from integer fields only and compare
    dec = kernel.decode_html(PAGE)
    blocks, _, _ = kernel.parse_blocks(dec.text)
    keep = kernel.classify(blocks)
    for b, k in zip(blocks, keep):
        lines = (b.n_chars + 79) // 80
        base = (b.candidate and b.n_tokens >= 8 and 3 * b.n_link_chars <= b.n_chars
                and b.n_tokens >= 4 * lines)
        if not base:
            assert k in (True, False)  # rescue may flip; no float involved
        else:
            assert k


def test_unicode_lowercase_does_not_desync_scanner():
    # U+0130 'İ' lowercases to TWO chars via str.lower(); the scanner's
    # lowered copy must stay length-aligned with the original doc or every
    # tag position after the 'İ' is misread and raw markup leaks into the
    # extracted text.
    html = ("<html><body>"
            "<p>İstanbul coverage paragraph with clearly enough running words"
            " to pass every keep threshold in the kernel today.</p>"
            "<p>Second İİİ paragraph also has plenty of running words to be"
            " kept by the density classifier rules.</p>"
            "</body></html>").encode("utf-8")
    r = kernel.extract_page(html)
    assert r.status == "ok"
    assert "İstanbul coverage paragraph" in r.extracted_text
    assert "Second İİİ paragraph" in r.extracted_text
    assert "<" not in r.extracted_text  # no markup leak
    assert "body" not in r.extracted_text


def test_unquoted_attr_trailing_slash_is_not_self_closing():
    # HTML5: in <a href=/x/> the '/' belongs to the unquoted value, so the
    # anchor OPENS — its text must count as link chars. A scanner that reads
    # any '/>' as self-closing never opens the anchor and undercounts
    # link density.
    html = ("<html><body><p><a href=/x/>all of this block text lives inside"
            " one anchor element entirely</a></p></body></html>")
    blocks, _, _ = kernel.parse_blocks(html)
    assert len(blocks) == 1
    b = blocks[0]
    assert b.n_link_chars == b.n_chars  # fully link text
    assert not b.candidate  # link-dominated -> gated out
    # quoted and post-whitespace forms DO self-close
    html2 = '<html><body><p>before <img src="x"/> after <hr /> tail</p></body></html>'
    blocks2, _, _ = kernel.parse_blocks(html2)
    assert all(b.n_link_chars == 0 for b in blocks2)


_WORDS = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=3, max_size=8)
_PARA = st.lists(_WORDS, min_size=12, max_size=30)


@settings(max_examples=120, deadline=None)
@given(paras=st.lists(_PARA, min_size=2, max_size=6),
       seed=st.integers(0, 10_000))
def test_ground_truth_fuzz(paras, seed):
    """Generative ground-truth check: build a random page whose visible
    main text is KNOWN BY CONSTRUCTION (long link-free paragraphs always
    pass the keep rules), wrapped in adversarial chrome — script blocks
    containing fake markup, comments, entities, inline tags, unquoted and
    slash-bearing attributes — and require byte-exact extraction."""
    rng = random.Random(seed)
    body_parts = []
    expected = []
    for words in paras:
        text = " ".join(words)
        expected.append(text)
        inner = text
        if rng.random() < 0.5:  # inline markup must not split/merge words
            i = rng.randrange(len(words))
            inner = " ".join(
                w if j != i else f"<b>{w}</b>" for j, w in enumerate(words))
        if rng.random() < 0.3:
            inner = inner.replace(" ", " <!-- c --> ", 1)
        attr = rng.choice(
            ['', ' class="x y"', " id=plain", ' data-u="/a/b/"', " href=/x/"])
        tag = rng.choice(["p", "div", "li", "td"])
        body_parts.append(f"<{tag}{attr}>{inner}</{tag}>")
        if rng.random() < 0.4:
            body_parts.append("<script>var fake = '<p>not text</p>';</script>")
        if rng.random() < 0.3:
            body_parts.append('<nav><a href="/l">boiler link</a></nav>')
    chrome_head = ("<!DOCTYPE html><html><head><title>t</title>"
                   "<style>p{color:red}</style></head><body>")
    html = chrome_head + "".join(body_parts) + "</body></html>"
    r = kernel.extract_page(html.encode("utf-8"))
    assert r.status == "ok"
    assert r.extracted_text == "\n\n".join(expected)


def test_entity_ground_truth():
    html = (b"<html><body><p>alpha &amp; beta &lt;tag&gt; gamma &#65; delta"
            b" epsilon zeta eta theta iota kappa</p></body></html>")
    r = kernel.extract_page(html)
    assert r.extracted_text == ("alpha & beta <tag> gamma A delta epsilon"
                                " zeta eta theta iota kappa")


def test_self_closing_nonvoid_opens_per_html5():
    # HTML5 ignores the '/' on non-void elements: <script src=x/> OPENS a
    # script, so its body must never surface as text (the self-closed
    # interpretation leaked raw JS into extracted_text)
    html = (b'<html><body><script src="x.js"/>function f(){return 42;}'
            b"</script><p>the visible article body with plenty of words to"
            b" clear the keep threshold</p></body></html>")
    r = kernel.extract_page(html)
    assert r.status == "ok"
    assert "function" not in r.extracted_text
    assert "visible article body" in r.extracted_text
    # nav/ self-closing likewise opens: its links stay boilerplate
    html2 = (b'<html><body><nav/><a href="/x">boiler boiler boiler boiler'
             b" boiler boiler boiler boiler boiler</a></body></html>")
    assert kernel.extract_page(html2).extracted_text == ""
    # but SVG (foreign content, XML rules) honors self-closing: an empty
    # <svg/> must NOT swallow the rest of the document
    html3 = (b"<html><body><svg/><p>text after the svg element with plenty"
             b" of running words to be kept today</p></body></html>")
    assert "text after the svg" in kernel.extract_page(html3).extracted_text


def test_truncated_stitch_spans_consistent():
    # kept text over the cap: spans must reference only blocks whose text
    # fully fits in the truncated output
    para = "word " * 30  # ~150 chars, kept
    n = kernel.MAX_TEXT_BYTES // len(para) + 10
    html = ("<html><body>" + f"<p>{para}</p>" * n + "</body></html>").encode()
    r = kernel.extract_page(html)
    assert len(r.extracted_text) == kernel.MAX_TEXT_BYTES
    # reconstruct from spans: total stitched length of spanned blocks fits
    dec = kernel.decode_html(html)
    blocks, _, _ = kernel.parse_blocks(dec.text)
    by_span = {(b.start, b.end): b for b in blocks}
    total = sum(len(by_span[s].text) for s in r.spans) + 2 * (len(r.spans) - 1)
    assert total <= kernel.MAX_TEXT_BYTES
    assert len(r.spans) < r.n_blocks_kept  # some kept blocks were cut


def test_golden_corpus_hash(tmp_path):
    """Regression anchor: the kernel's exact output over the smoke corpus,
    pinned as one hash. If extraction semantics change intentionally, bump
    KERNEL_VERSION (resume gates on it) and update this constant in the
    same commit; an unintentional change fails here first."""
    import hashlib

    import pyarrow.parquet as pq

    from llmap_spark import corpus

    out = str(tmp_path / "golden.parquet")
    corpus.generate_pages("/root/testdata/sf0.001", out, pages_per_doc=1)
    t = pq.read_table(out, columns=["url", "html"])
    h = hashlib.sha256()
    for url, html in sorted(zip(t.column("url").to_pylist(),
                                t.column("html").to_pylist())):
        r = kernel.extract_page(html)
        h.update(url.encode()); h.update(b"\x00")
        h.update(r.extracted_text.encode()); h.update(b"\x00")
        h.update(r.status.encode()); h.update(b"\x01")
    assert h.hexdigest() == (
        "4e414bbb44d357faf68c35fbe6be76250df03b91a261588cf8cbbf8785e1502f"
    ), "kernel output drifted — if intentional, bump KERNEL_VERSION and this hash"


def test_stray_quote_in_unquoted_attr_does_not_drop_document():
    # HTML5: a quote inside an unquoted attribute value is a value char;
    # the quote-aware tail regex can't match, and the scanner previously
    # dropped the ENTIRE remaining document with status 'ok'
    html = (b"<html><body><p title=don't>first paragraph with plenty of"
            b" running words to clear the keep threshold today</p>"
            b"<p>second paragraph also has plenty of running words to be"
            b" kept by the classifier</p></body></html>")
    r = kernel.extract_page(html)
    assert "first paragraph" in r.extracted_text
    assert "second paragraph" in r.extracted_text


def test_rawtext_close_requires_token_boundary():
    # '</scriptable>' must not close <script>; the real close follows
    html = (b"<html><body><script>var s = \"</scriptable>\"; var leak=1;"
            b"</script><p>real content paragraph with plenty of running"
            b" words to clear every keep threshold</p></body></html>")
    r = kernel.extract_page(html)
    assert "leak" not in r.extracted_text
    assert "scriptable" not in r.extracted_text
    assert "real content paragraph" in r.extracted_text


def test_abrupt_empty_comments_do_not_swallow_document():
    """HTML5 'abrupt closing of an empty comment': '<!-->' and '<!--->'
    are COMPLETE comments; searching for '-->' past them swallowed the
    whole rest of the page under status 'ok' (review-found)."""
    from llmap_spark import kernel

    base = (b"<html><body><p>First paragraph with plenty of words to be "
            b"kept here today</p>%s<p>Second paragraph with plenty of "
            b"words to be kept here too</p></body></html>")
    for comment in (b"<!-->", b"<!--->", b"<!---->", b"<!-- normal -->"):
        r = kernel.extract_page(base % comment)
        assert r.n_blocks_total == 2, comment
        assert "Second paragraph" in r.extracted_text, comment
        assert r.status == "ok"


def test_literal_replacement_char_is_not_decode_replaced():
    """A clean UTF-8 page whose SOURCE legitimately contains U+FFFD
    (re-encoded-lossily upstream) must stay status 'ok' — 'replaced' means
    the decoder substituted, not that the output contains U+FFFD
    (review-found)."""
    from llmap_spark import kernel

    clean = ("<html><body><p>this page contains a literal � char and "
             "plenty of words to pass the keep rule</p></body></html>"
             ).encode("utf-8")
    r = kernel.extract_page(clean)
    assert r.status == "ok"
    assert "�" in r.extracted_text
    # genuinely invalid bytes still report decode_replaced
    bad = (b"<html><body><p>caf\xe9 plenty of words to pass the keep rule "
           b"here today ok</p></body></html>")
    assert kernel.extract_page(bad).status == "decode_replaced"


# adversarial tokenizer atoms for the block-level golden pin: every branch
# of the scanner (comments incl. the abrupt '<!-->'/'<!--->' forms,
# declarations, processing instructions, junk after '<' and '</', raw-text
# close-tag boundaries, quote-aware and degraded tag tails, self-closing
# rules, non-ASCII case folding, entities without ';') plus enough running
# text that classify/stitch see kept, rescued and link-dominated blocks
_FUZZ_ATOMS = (
    "<", " < ", "a < b", "x<y", "<1", "< p>", "</", "</ ", "</1>", "</>",
    "</-x>", "</ p>", "<!-->", "<!--->", "<!---->", "<!-- c -->",
    "<!-- open", "-->", "<!DOCTYPE html>", "<!x", "<?xml v?>", "<?pi",
    '<p class="x>', "<div title='y>", '"', "'", "<p title=don't>",
    "<script>", "</script>", "</scriptable>", "</script >", "</script/",
    "<script src=x/>", "<style>", "</style>", "<title>", "</title>",
    "<textarea>", "</textarea>", "<xmp>", "</xmp>", "<svg/>", "<svg>",
    "</svg>", "<math/>", "<br/>", "<br>", "<br />", '<img src="i"/>',
    "<hr/>", "<p/>", "<div/>", "<nav/>", "<a href=/x/>", '<a href="/y">',
    "</a>", "<A HREF=z>", "</A>", "<a href=q>x < y</a>", "<P>", "</P>",
    "<DIV>", "</DIV>", "<SCRIPT>", "</SCRIPT>", "İ", "İstanbul",
    "<Dİv>", "<pİ>", "&amp", "&lt", "&amp;", "&#65", "&#x41;", "&copy",
    "&nbsp", "&bogus;", "<nav>", "</nav>", "<header>", "</header>",
    "<footer>", "</footer>", "<aside>", "</aside>", "<form>", "</form>",
    "<select>", "<option>", "</select>", "<body>", "</body>", "<html>",
    "<head>", "</head>", "<main>", "</main>", "<li>", "<td>", "<p>",
    "</p>", "<div>", "</div>", "<b>", "</b>", "<span class=s>",
    "</span>", "<h1>", "</h1>", ">", "/", "=", " ", " ", "\n", "\t",
    "word", "alpha beta", "the quick brown fox jumps over the lazy dog",
    "plenty of running words to clear the keep threshold in a paragraph",
)


def _fuzz_corpus(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    return ["".join(rng.choice(_FUZZ_ATOMS) for _ in range(rng.randrange(1, 60)))
            for _ in range(n)]


def _corpus_pages(n: int, seed: int) -> list[bytes]:
    """Seeded pages through the corpus builders: all 8 templates (template
    ``i % 8``) and every edge kind."""
    from llmap_spark import corpus

    rng = random.Random(seed)
    vocab = ("spark window merge table column vector stream value data join"
             " filter group hash sort order line part row key query scan"
             " caf\xe9 na\xefve r\xe9sum\xe9 <b> & \"q\"").split()
    pages = [corpus._edge_html(kind, "edge page text with a few words")
             for kind in sorted(set(corpus.EDGE_RESIDUES.values()))]
    for i in range(n):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 120)))
        pages.append(corpus._page_html(i, i % corpus.N_TEMPLATES, text, rng))
    return pages


def test_golden_block_level_hash():
    """Regression anchor below test_golden_corpus_hash: every Block field,
    body_seen and parse_error of parse_blocks, and the whole extract_page
    result (text, spans, counts, status), over seeded corpus pages and a
    seeded adversarial fuzz corpus. A tokenizer rewrite must leave this
    hash unchanged; an intentional semantic change bumps KERNEL_VERSION and
    this constant together."""
    import hashlib

    h = hashlib.sha256()
    docs = _corpus_pages(800, 7)
    docs += [d.encode("utf-8") for d in _fuzz_corpus(20_000, 11)]
    for html in docs:
        dec = kernel.decode_html(html)
        blocks, body_seen, perr = kernel.parse_blocks(dec.text)
        h.update(repr(([tuple(b) for b in blocks], body_seen, perr)).encode())
        h.update(b"\x00")
        h.update(repr(tuple(kernel.extract_page(html))).encode())
        h.update(b"\x01")
    assert h.hexdigest() == (
        "9af989d112b9879b0d6a07a27e4b1441e48279ec00860a3ac3ec7afa8aee1811"
    ), "kernel block output drifted"
