"""Deterministic main-content extraction kernel.

This module is the *semantics* of the whole engine; everything else is Spark
plumbing. It is pure Python, stdlib-only, total (never raises on any byte
input), and deterministic. The exact same functions run in two harnesses:

  * row-at-a-time in-process via :mod:`llmap_spark.oracle` (the reference
    extractor tests compare against), and
  * batched over Arrow record batches inside one ``mapInArrow`` UDF
    (:mod:`llmap_spark.functions.extract_udfs`).

Byte-identity of ``extracted_text`` per url between the two harnesses is the
correctness gate (BASELINE.json `north_rule`).

Design lineage (reference: jbellis/llmap, studied at /root/reference):

  * structure-aware span extraction — the reference parses source files into
    a sorted list of typed byte spans (reference ``parse.py:36-67``); we parse
    HTML into a document-ordered list of typed text blocks with char spans.
  * coarse-first funnel — the reference prunes with cheap skeletons before
    expensive full-source analysis (``llmap.py:139-174``); we gate on cheap
    per-block candidate features before density classification.
  * two-pass refine — the reference's refine stage does an answer pass plus a
    "check you didn't miss anything" follow-up (``prompts.py:104-117``); we do
    a density-classification pass plus a neighbor-rescue pass.
  * bounded per-item work — the reference truncates oversized inputs to a
    token budget (``parse.py:20-26``); we cap raw HTML at MAX_HTML_BYTES.
  * determinism-by-sorting — the reference sorts analyses so its cache is
    deterministic (``llmap.py:209-213``); our blocks are kept in document
    order and every decision rule uses integer arithmetic only.

All keep/candidate decisions use integer arithmetic (no floats) so the same
decision is reached regardless of serialization boundary (Arrow, Parquet,
JSON). Float densities are carried for inspection only.

The tokenizer in :func:`parse_blocks` is single-dispatch: per markup token it
makes one search of one compiled regex (``_TOKEN_RE``: comment, declaration
or processing instruction, close tag, open tag with its quote-aware tail,
literal '<') over an ASCII-lowered copy of the document, branches on the
matched group, and looks the tag name up once in ``_ACTIONS``, a table of
per-tag action bits (block, skip, boiler, void, anchor, raw-text, foreign).
Each match spans its whole token, so the scanning runs in C and comments,
declarations and processing instructions never reach Python code; block
assembly is local variables plus one ``flush`` closure.
"""

from __future__ import annotations

import codecs
import html as _htmlmod
import re
from typing import NamedTuple

# 2.4.0: lineage schema gained n_empty — the version gate exists exactly
# so a resume cannot mix lineage/extraction schemas across snapshots
# (extraction output bytes are unchanged from 2.3.0)
# 2.4.1: <embed> is void only, no longer a skip tag — an unclosed one hid
# the rest of the page
KERNEL_VERSION = "2.4.1"

# --- bounded per-item work (reference parse.py:20-26 analogue) ------------
MAX_HTML_BYTES = 1_000_000  # raw html byte cap per page
MAX_TEXT_BYTES = 500_000    # extracted text cap (chars; defensive)

# --- block model -----------------------------------------------------------
# Tags that open/close a visual block; seeing one flushes the current block.
_BLOCK_TAGS = frozenset({
    "address", "article", "aside", "blockquote", "body", "br", "caption",
    "dd", "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html",
    "li", "main", "nav", "ol", "option", "p", "pre", "section", "select",
    "table", "tbody", "td", "tfoot", "th", "thead", "tr", "ul",
})
# Content inside these is never visible text.
_SKIP_TAGS = frozenset({
    "script", "style", "noscript", "template", "svg", "head", "iframe",
    "object", "applet", "audio", "video", "canvas", "map",
})
# Blocks nested under these are boilerplate containers (reference analogue:
# annotation-strip predicate, parse.py:55-57 — drop boilerplate node classes).
_BOILER_TAGS = frozenset({"nav", "header", "footer", "aside", "form", "select"})
# Void elements — never tracked as open.
_VOID_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
})

# --- classification thresholds (integer-arithmetic rules) ------------------
MIN_CANDIDATE_CHARS = 16   # stage-1 coarse gate: block must have >=16 chars
MIN_KEEP_TOKENS = 8        # stage-2: kept block needs >=8 words
MIN_RESCUE_TOKENS = 3      # stage-2b neighbor rescue: >=3 words
CHARS_PER_LINE = 80        # virtual line width for text density
MIN_DENSITY_TOKENS_PER_LINE = 4  # keep needs n_tokens >= 4 * n_lines

_CHARSET_RE = re.compile(rb"""charset\s*=\s*["']?\s*([A-Za-z0-9._-]+)""")


class Block(NamedTuple):
    """One visual text block, in document order.

    ``start``/``end`` are character offsets into the *decoded* html string.
    Mirrors the reference's tree-sitter IR dicts ``{type,start,end,text}``
    sorted by start byte (reference parse.py:59-66).
    """

    idx: int
    tag: str
    depth: int
    start: int
    end: int
    text: str
    n_chars: int
    n_tokens: int
    n_link_chars: int
    in_boiler: bool
    candidate: bool


class DecodeResult(NamedTuple):
    text: str
    truncated: bool
    replaced: bool


class PageResult(NamedTuple):
    extracted_text: str
    spans: list[tuple[int, int]]
    n_blocks_kept: int
    n_blocks_total: int
    status: str


def _normalize(raw: str) -> str:
    """Whitespace-collapse a raw text run. ' '.join(split()) is the single
    normalization rule of the engine; both harnesses share it."""
    return " ".join(raw.split())


def decode_html(html: bytes | None, cap: int = MAX_HTML_BYTES) -> DecodeResult:
    """Bytes -> str, total. Cap bytes, sniff BOM then meta charset in the
    first 2 KiB, decode with errors='replace'. Fixed policy, documented in
    SURVEY §7.1. BOM wins over meta (the HTML5 encoding-sniff order):
    UTF-16 pages would otherwise decode as NUL-riddled mojibake."""
    if not html:
        return DecodeResult("", False, False)
    truncated = len(html) > cap
    if truncated:
        html = html[:cap]
    if html[:2] in (b"\xff\xfe", b"\xfe\xff"):
        # strict-first decode: 'replaced' means the DECODER substituted
        # characters, detected by the strict pass failing — scanning the
        # output for U+FFFD misreported pages that legitimately contain
        # the replacement character (re-encoded-lossily-upstream pages)
        try:  # utf-16 consumes the BOM, picks LE/BE from it
            return DecodeResult(html.decode("utf-16"), truncated, False)
        except Exception:
            pass
        try:
            text = html.decode("utf-16", errors="replace")
        except Exception:
            text = html.decode("utf-8", errors="replace")
        return DecodeResult(text, truncated, True)
    if html[:3] == b"\xef\xbb\xbf":
        html = html[3:]  # UTF-8 BOM: strip, else it prepends U+FEFF
    codec = "utf-8"
    m = _CHARSET_RE.search(html[:2048])
    if m:
        name = m.group(1).decode("ascii", "replace")
        try:
            codec = codecs.lookup(name).name
        except (LookupError, ValueError):
            codec = "utf-8"
    try:  # strict-first: see the BOM path above
        return DecodeResult(html.decode(codec), truncated, False)
    except Exception:
        pass
    try:
        text = html.decode(codec, errors="replace")
    except Exception:  # pathological codec behaviour -> fixed fallback
        text = html.decode("utf-8", errors="replace")
    return DecodeResult(text, truncated, True)


# --- tokenizer -------------------------------------------------------------
# content of these elements is raw text: '<' inside does not open tags
_RAWTEXT_TAGS = frozenset({"script", "style", "textarea", "title", "xmp"})
# Elements where the self-closing slash is HONORED: void elements (no-op
# either way) and foreign-content roots (SVG/MathML follow XML rules). On
# every other element HTML5 IGNORES the slash — '<script src=x/>' OPENS a
# script whose body must stay invisible; treating it as self-closed leaked
# the JS into extracted text.
_FOREIGN_TAGS = frozenset({"svg", "math"})

# One action bitmask per tag name, looked up ONCE per tag token; a name
# absent from the table only moves the open-element depth.
_BLOCK, _SKIP, _BOILER, _VOID, _ANCHOR, _RAWTEXT, _FOREIGN = (
    1 << i for i in range(7))
_ACTIONS: dict[str, int] = {}
for _bit, _tags in ((_BLOCK, _BLOCK_TAGS), (_SKIP, _SKIP_TAGS),
                    (_BOILER, _BOILER_TAGS), (_VOID, _VOID_TAGS),
                    (_ANCHOR, {"a"}), (_RAWTEXT, _RAWTEXT_TAGS),
                    (_FOREIGN, _FOREIGN_TAGS)):
    for _t in _tags:
        _ACTIONS[_t] = _ACTIONS.get(_t, 0) | _bit

# One search per markup token over the ASCII-lowered document: m.lastindex
# names the token kind and m.end() is where it ends (an unterminated
# construct runs to EOF).
#   1 comment. '<!-->' and '<!--->' are COMPLETE (HTML5 "abrupt closing of
#     an empty comment": searching for '-->' past them swallowed the rest
#     of the page under status 'ok'); any other runs through the next '-->'.
#   2 '<!' declaration or '<?' processing instruction, through the next '>'.
#   3 close tag, through the next '>'.
#   4 open tag with its quote-aware tail ('/>' included). On a stray quote
#     in an unquoted value (title=don't, legal per HTML5) or an unclosed
#     quote the tail cannot match, and the tag closes at the next '>'.
#   5 '<' (or '</') before anything else: literal text.
_NAME = r"[a-z][a-z0-9:_.-]*"
_TOKEN_RE = re.compile(
    rf"<(?:(!--)(?:-?>|.*?-->|.*)|([!?])[^>]*>?|/({_NAME})[^>]*>?|({_NAME})"
    r"""(?:[^>"']*(?:"[^"]*"[^>"']*|'[^']*'[^>"']*)*>|[^>]*>?)|(/?))""",
    re.DOTALL)
_CLOSE, _OPEN, _LITERAL = 3, 4, 5
# a raw-text close tag must be followed by whitespace, '/', '>' or EOF
# (HTML5): '</scriptable>' must NOT close <script> — matching the bare
# prefix leaked script source as text
_RAWTEXT_CLOSE = {t: re.compile(rf"</{t}(?![^\t\n\f\r />])[^>]*>?")
                  for t in _RAWTEXT_TAGS}
# ASCII-only lowercase map: LENGTH-PRESERVING, unlike str.lower() (e.g.
# U+0130 'İ' lowercases to 2 chars), so offsets into the lowered copy stay
# aligned with the original document. Tag names are ASCII by definition.
_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
# chars that may legally precede the '/' of a self-closing '/>' — after a
# quoted value or whitespace. A '/' right after an unquoted attribute value
# (e.g. <a href=/x/>) is part of the value per HTML5, not self-closing.
_PRE_SLASH_OK = frozenset(" \t\n\r\f\"'")


def parse_blocks(doc: str) -> tuple[list[Block], bool, bool]:
    """Decoded html -> (blocks in document order, body_seen, parse_error).

    A single-dispatch scanner: one ``_TOKEN_RE`` search per markup token
    over an ASCII-lowered, offset-aligned copy of ``doc`` (tag names come
    out lowered, and every offset is an offset into ``doc``), a branch on
    ``m.lastindex``, and one ``_ACTIONS`` lookup per tag. The text between
    tokens becomes a block's pieces; block tags flush the open block.
    Counters (not stacks) make unclosed and stray tags harmless, and
    anything unrecognized after '<' is text, so the scan is tolerant by
    construction; unterminated constructs run to end-of-doc.

    Total: any scanner exception yields ([], body_seen, True) rather than
    raising (reference analogue: exceptions-as-data, exceptions.py:1-29 —
    a throwing Arrow UDF would kill the whole task batch).
    """
    blocks: list[Block] = []
    pieces: list[str] = []  # decoded text pieces of the open block
    links: list[str] = []   # the pieces that lie inside <a>

    def flush(tag: str, depth: int, start: int, end: int,
              in_boiler: bool) -> None:
        # one split serves normalization AND the token count (identical to
        # _normalize + text.split(): " ".join(words).split() == words)
        words = "".join(pieces).split()
        if words:
            text = " ".join(words)
            n_chars = len(text)
            link_chars = min(n_chars, sum(
                len(_normalize(p)) for p in links)) if links else 0
            # tuple.__new__ skips the NamedTuple's Python-level __new__
            # (this is the kernel's hot path); all 11 fields, in order
            blocks.append(tuple.__new__(Block, (
                len(blocks), tag, depth, start, end, text, n_chars,
                len(words), link_chars, in_boiler,
                # stage-1 coarse candidate gate (integer arithmetic only):
                # enough chars, not link-dominated, not inside a boiler
                # container
                n_chars >= MIN_CANDIDATE_CHARS
                and 4 * link_chars < 3 * n_chars and not in_boiler)))
        pieces.clear()
        links.clear()

    body_seen = False
    try:
        # str.lower() IS the ASCII map on ASCII text, and much faster
        low = doc.lower() if doc.isascii() else doc.translate(_ASCII_LOWER)
        search = _TOKEN_RE.search
        actions = _ACTIONS.get
        n = len(doc)
        skip = boiler = anchor = depth = 0
        block_tag = "body"  # block tag context for the next flush
        start = end = -1    # char span of the open block's pieces
        pos = 0
        while pos < n:
            m = search(low, pos)
            lt = n if m is None else m.start()
            if lt > pos and not skip:
                raw = doc[pos:lt]
                if start < 0:
                    start = pos
                end = lt
                # entity decode only when present (html.unescape is
                # regex-based and worth skipping for entity-free runs)
                if "&" in raw:
                    raw = _htmlmod.unescape(raw)
                pieces.append(raw)
                if anchor:
                    links.append(raw)
            if m is None:
                break
            k = m.lastindex
            pos = m.end()
            if k == _OPEN:
                name = m[4]
                act = actions(name, 0)
                if not act:
                    depth += 1
                    continue
                if act & _RAWTEXT:
                    # skip to past the close tag; the element's open and
                    # close leave every counter as it was
                    close = _RAWTEXT_CLOSE[name].search(low, pos)
                    if close is None:  # unterminated raw text: skip to EOF
                        break
                    pos = close.end()
                    continue
                if act & _BLOCK:
                    if pieces:
                        flush(block_tag, depth, start, end, boiler > 0)
                        start = -1
                    block_tag = name
                    body_seen = body_seen or name == "body"
                # honored self-closing ('/' right after the name as in
                # <br/>, or after a legal char): nothing opens
                if (act & (_VOID | _FOREIGN) and low[pos - 2:pos - 1] == "/"
                        and (pos - 2 == m.end(4)
                             or low[pos - 3] in _PRE_SLASH_OK)):
                    continue
                # a non-void, non-foreign '/>' OPENS (HTML5 ignores the
                # slash; counters tolerate it never closing)
                if act & _ANCHOR:
                    anchor += 1
                if act & _SKIP:
                    skip += 1
                if act & _BOILER:
                    boiler += 1
                if not act & _VOID:
                    depth += 1
            elif k == _CLOSE:
                name = m[3]
                act = actions(name, 0)
                if act & _BLOCK:
                    if pieces:
                        flush(block_tag, depth, start, end, boiler > 0)
                        start = -1
                    block_tag = name
                if act & _ANCHOR and anchor:
                    anchor -= 1
                if act & _SKIP and skip:
                    skip -= 1
                if act & _BOILER and boiler:
                    boiler -= 1
                if not act & _VOID and depth:
                    depth -= 1
            elif k == _LITERAL:
                # a bare '<', or '</' before a non-name, is text and its OWN
                # piece: n_link_chars normalizes per piece, so merging it
                # with the runs around it would change link density
                if not skip:
                    if start < 0:
                        start = lt
                    end = pos
                    pieces.append(doc[lt:pos])
                    if anchor:
                        links.append(doc[lt:pos])
            # comments, declarations and processing instructions: skipped
        if pieces:
            flush(block_tag, depth, start, end, boiler > 0)
    except Exception:
        return [], body_seen, True
    return blocks, body_seen, False


def classify(blocks: list[Block]) -> list[bool]:
    """Stage-2 keep flags: density classification + neighbor rescue.

    Pass 1 (Boilerpipe-style, integer arithmetic):
      keep iff candidate AND n_tokens >= MIN_KEEP_TOKENS
               AND 3*n_link_chars <= n_chars            (link density <= 1/3)
               AND n_tokens >= MIN_DENSITY_TOKENS_PER_LINE * ceil(n_chars/80)

    Pass 2 (neighbor rescue; mirrors the reference's two-pass refine,
    prompts.py:104-117): a dropped candidate block sandwiched between two
    pass-1-kept blocks is rescued if it has >= MIN_RESCUE_TOKENS words and
    link density <= 1/3. Rescue reads only pass-1 flags, so it is a single
    deterministic pass.
    """
    base: list[bool] = []
    for b in blocks:
        lines = (b.n_chars + CHARS_PER_LINE - 1) // CHARS_PER_LINE
        keep = (
            b.candidate
            and b.n_tokens >= MIN_KEEP_TOKENS
            and 3 * b.n_link_chars <= b.n_chars
            and b.n_tokens >= MIN_DENSITY_TOKENS_PER_LINE * lines
        )
        base.append(keep)
    out = list(base)
    n = len(blocks)
    for i, b in enumerate(blocks):
        if (
            not base[i]
            and 0 < i < n - 1
            and base[i - 1]
            and base[i + 1]
            and b.candidate
            and b.n_tokens >= MIN_RESCUE_TOKENS
            and 3 * b.n_link_chars <= b.n_chars
        ):
            out[i] = True
    return out


def stitch(blocks: list[Block], keep: list[bool]) -> tuple[str, list[tuple[int, int]]]:
    """Stage-3: join kept blocks in document order with a blank line; emit
    char spans. Document order is what makes stitching byte-deterministic
    (reference analogue: IR sort by start byte, parse.py:66).

    When the text cap truncates, the spans list is truncated CONSISTENTLY:
    only blocks whose text fully fits are listed, so spans never reference
    dropped content (consumers align text against spans)."""
    kept = [b for b, k in zip(blocks, keep) if k]
    text = "\n\n".join(b.text for b in kept)
    if len(text) <= MAX_TEXT_BYTES:
        return text, [(b.start, b.end) for b in kept]
    text = text[:MAX_TEXT_BYTES]
    spans: list[tuple[int, int]] = []
    acc = 0
    for b in kept:
        end = acc + len(b.text)
        if end > MAX_TEXT_BYTES:
            break
        spans.append((b.start, b.end))
        acc = end + 2  # the "\n\n" separator
    return text, spans


def page_status(html: bytes | None, dec: DecodeResult, body_seen: bool,
                parse_error: bool) -> str:
    """Single status column, fixed precedence (documented contract):
    empty > parse_error > truncated > decode_replaced > no_body > ok."""
    if not html or not dec.text.strip():
        return "empty"
    if parse_error:
        return "parse_error"
    if dec.truncated:
        return "truncated"
    if dec.replaced:
        return "decode_replaced"
    if not body_seen:
        return "no_body"
    return "ok"


def has_candidates(blocks: list[Block]) -> bool:
    """Stage-1 funnel gate: any candidate block -> page survives to stage 2
    (reference analogue: coarse relevance semi-join, llmap.py:155-158)."""
    return any(b.candidate for b in blocks)


def extract_page(html: bytes | None) -> PageResult:
    """Full per-page extraction: decode -> parse -> gate -> classify -> stitch.

    The oracle and the Spark UDF (``extract_fused_arrow``) both call it
    directly, so they cannot disagree.
    """
    dec = decode_html(html)
    blocks, body_seen, perr = parse_blocks(dec.text)
    status = page_status(html, dec, body_seen, perr)
    if not has_candidates(blocks):
        # funnel short-circuit: no candidate blocks -> stage 2/3 skipped
        return PageResult("", [], 0, len(blocks), status)
    keep = classify(blocks)
    text, spans = stitch(blocks, keep)
    return PageResult(text, spans, sum(keep), len(blocks), status)
