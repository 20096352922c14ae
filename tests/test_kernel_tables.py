"""Table-driven tests of the kernel's tag, charset and entity tables.

Each tag set in ``kernel`` (block, skip, boilerplate, void, raw-text) is a
rule of the block model. The sets are spelled out here rather than read
from the kernel, and every member is checked on its own, so a tag that
drops out of a table, or lands in the wrong one, fails under its own name.
"""

from __future__ import annotations

import pytest

from llmap_spark import kernel

A = "alpha sentence has plenty of running words to keep here"
B = "beta sentence also has plenty of running words to keep"
C = "gamma sentence closes the page with enough running words"

BLOCK_TAGS = (
    "address", "article", "aside", "blockquote", "body", "br", "caption",
    "dd", "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html",
    "li", "main", "nav", "ol", "option", "p", "pre", "section", "select",
    "table", "tbody", "td", "tfoot", "th", "thead", "tr", "ul")
SKIP_TAGS = (
    "applet", "audio", "canvas", "head", "iframe", "map",
    "noscript", "object", "script", "style", "svg", "template", "video")
BOILER_TAGS = ("aside", "footer", "form", "header", "nav", "select")
VOID_TAGS = (
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")
RAWTEXT_TAGS = ("script", "style", "textarea", "title", "xmp")


def _blocks(html: str):
    blocks, body_seen, parse_error = kernel.parse_blocks(html)
    assert body_seen and not parse_error
    return blocks


@pytest.mark.parametrize("tag", SKIP_TAGS)
def test_skip_tag_content_is_never_extracted(tag):
    html = (f"<html><body><p>{A}</p><{tag}>{B}</{tag}><p>{C}</p>"
            "</body></html>").encode()
    r = kernel.extract_page(html)
    assert r.status == "ok"
    assert r.extracted_text == f"{A}\n\n{C}"


@pytest.mark.parametrize("tag", BOILER_TAGS)
def test_boiler_container_drops_nested_blocks(tag):
    html = f"<html><body><p>{A}</p><{tag}><p>{B}</p></{tag}></body></html>"
    blocks = _blocks(html)
    assert [(b.text, b.in_boiler, b.candidate) for b in blocks] == [
        (A, False, True), (B, True, False)]
    assert kernel.extract_page(html.encode()).extracted_text == A


@pytest.mark.parametrize("tag", BLOCK_TAGS)
def test_block_tag_starts_a_new_block(tag):
    blocks = _blocks(
        f"<html><body><div>{A}<{tag}>{B}</{tag}></div></body></html>")
    assert [(b.tag, b.text) for b in blocks] == [("div", A), (tag, B)]
    assert blocks[1].in_boiler == (tag in BOILER_TAGS)
    assert blocks[0].end <= blocks[1].start


# phrasing elements: in no table, so they only move the open-element depth
INLINE_TAGS = ("span", "b", "i", "em", "strong", "code", "small", "abbr",
               "label", "time")


@pytest.mark.parametrize("tag", INLINE_TAGS)
def test_inline_tag_does_not_split_block(tag):
    assert tag not in kernel._ACTIONS
    blocks = _blocks(
        f"<html><body><p>{A} <{tag}>{B}</{tag}> tail</p></body></html>")
    assert [(b.tag, b.text, b.n_link_chars) for b in blocks] == [
        ("p", f"{A} {B} tail", 0)]


@pytest.mark.parametrize("tag", RAWTEXT_TAGS)
def test_rawtext_content_is_opaque(tag):
    # '<div>' inside a raw-text element is text, not a block tag, and the
    # element's close tag is still found: both paragraphs survive
    blocks = _blocks(f"<html><body><p>{A}</p><{tag}>x <div>{B}</div> y"
                     f"</{tag}><p>{C}</p></body></html>")
    assert [(b.tag, b.text) for b in blocks] == [("p", A), ("p", C)]


@pytest.mark.parametrize("tag", VOID_TAGS)
def test_void_tag_does_not_nest_following_blocks(tag):
    html = (f"<html><body><div><p>{A}</p><{tag} src=x><p>{B}</p></div>"
            f"<p>{C}</p></body></html>")
    blocks = _blocks(html)
    assert [b.text for b in blocks] == [A, B, C]
    assert blocks[0].depth == blocks[1].depth
    assert kernel.extract_page(html.encode()).extracted_text == (
        f"{A}\n\n{B}\n\n{C}")


CHARSET_SAMPLES = {
    "utf-8": "Grüße aus Köln, Ελλάδα, Москва, 東京",
    "latin-1": "Grüße aus Köln, çà et là, naïve café",
    "windows-1252": "naïve café “quoted” — dash",
    "iso-8859-2": "Zażółć gęślą jaźń",
    "windows-1250": "Zażółć gęślą jaźń",
    "iso-8859-7": "Καλημέρα Ελλάδα",
    "cp1251": "Привет из Москвы",
    "koi8-r": "Привет из Москвы",
    "shift_jis": "東京の天気",
    "euc-jp": "東京の天気",
    "gbk": "北京天气",
    "big5": "臺北天氣",
    "euc-kr": "서울 날씨",
}


@pytest.mark.parametrize("charset", sorted(CHARSET_SAMPLES))
def test_meta_charset_decodes_page(charset):
    sample = CHARSET_SAMPLES[charset]
    body = f"<p>{sample} " + "word " * 10 + "</p>"
    html = (f'<html><head><meta charset="{charset}"></head><body>{body}'
            "</body></html>").encode(charset)
    dec = kernel.decode_html(html)
    assert not dec.replaced and not dec.truncated
    assert sample in dec.text
    r = kernel.extract_page(html)
    assert r.status == "ok"
    assert r.extracted_text.startswith(sample)


def test_unknown_charset_label_falls_back_to_utf8():
    html = ('<html><head><meta charset="no-such-codec"></head><body><p>'
            "Grüße " + "word " * 10 + "</p></body></html>").encode("utf-8")
    r = kernel.extract_page(html)
    assert r.status == "ok"
    assert r.extracted_text.startswith("Grüße word")


ENTITIES = {
    "&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&#39;": "'",
    "&#65;": "A", "&#x41;": "A", "&eacute;": "é", "&euro;": "€",
    "&mdash;": "—", "&#x1F600;": "\U0001F600", "&AMP;": "&",
    # unescaped once only, and unknown names stay literal
    "&amp;lt;": "&lt;", "&bogus;": "&bogus;",
}


@pytest.mark.parametrize("entity", list(ENTITIES))
def test_entity_decodes_once(entity):
    html = (f"<html><body><p>x{entity}y " + "word " * 10
            + "</p></body></html>").encode()
    r = kernel.extract_page(html)
    assert r.extracted_text == f"x{ENTITIES[entity]}y" + " word" * 10
