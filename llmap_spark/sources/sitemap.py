"""Sitemap (sitemaps.org XML) source: URL discovery for the crawl story —
a sitemap advertises the URLs the extraction pipeline should fetch next.

Kernel discipline as everywhere else (total, deterministic, stdlib-only,
shared by pytest and the Spark reader):

  parse_sitemap(data)  bytes of one sitemap (plain or gzip) ->
                       ("urlset" | "index", [(loc, lastmod), ...]).
                       NEVER raises: malformed XML yields the <loc>
                       entries a tolerant scan can recover; entity count
                       and size are capped.
  read_sitemaps(spark, df)  (sitemap_path/host, body binary) -> one row
                       per discovered URL with lastmod + kind, Arrow-
                       batched; index files yield their child sitemap
                       locs with kind='sitemap' so a caller can iterate
                       the frontier (one fetch round per nesting level —
                       sitemap indexes are at most one level deep by
                       spec).

Parsing is a tolerant regex scan, not a DTD-validating XML parser: real
crawl sitemaps are full of namespace soup, stray bytes, and truncation,
and the only fields the pipeline consumes are <loc> and <lastmod> text.
XML entity expansion attacks are structurally impossible in a scan that
never expands entities (the five predefined ones are decoded in loc
text, nothing else).
"""

from __future__ import annotations

import gzip
import io
import re

MAX_SITEMAP_BYTES = 60_000_000   # spec cap is 50 MB uncompressed
MAX_URLS_PER_SITEMAP = 50_000    # spec cap

_LOC_RE = re.compile(
    rb"<(url|sitemap)\b[^>]*>(.*?)</\1>", re.DOTALL | re.IGNORECASE)
_FIELD_RE = re.compile(
    rb"<(loc|lastmod)\b[^>]*>\s*(.*?)\s*</\1>", re.DOTALL | re.IGNORECASE)

# &amp; decodes LAST: running it first turns '&amp;lt;' (XML for the
# literal text '&lt;') into '&lt;', which the later &lt; pass would then
# wrongly decode to '<' — a double decode that corrupts discovered URLs
_ENTITIES = [(b"&lt;", b"<"), (b"&gt;", b">"),
             (b"&quot;", b'"'), (b"&apos;", b"'"), (b"&amp;", b"&")]


def _unescape(b: bytes) -> bytes:
    for k, v in _ENTITIES:
        if k in b:
            b = b.replace(k, v)
    return b


def parse_sitemap(data: bytes | None) -> tuple[str, list[tuple[str, str | None]]]:
    """Sitemap bytes (plain or gzip) -> (kind, [(loc, lastmod), ...]).
    kind is 'index' when the file is a <sitemapindex> (entries are child
    sitemap locations), else 'urlset'. Total on any bytes."""
    if not data:
        return "urlset", []
    if data[:2] == b"\x1f\x8b":
        out = io.BytesIO()
        try:
            with gzip.GzipFile(fileobj=io.BytesIO(data)) as g:
                while True:
                    chunk = g.read(1 << 20)
                    if not chunk:
                        break
                    out.write(chunk)
                    if out.tell() > MAX_SITEMAP_BYTES:
                        break
        except Exception:
            pass  # truncated member: scan what decompressed
        data = out.getvalue()
    data = data[:MAX_SITEMAP_BYTES]
    kind = "index" if re.search(rb"<sitemapindex\b", data,
                                re.IGNORECASE) else "urlset"
    entries: list[tuple[str, str | None]] = []
    for m in _LOC_RE.finditer(data):
        block = m.group(2)
        loc = None
        lastmod = None
        for fm in _FIELD_RE.finditer(block):
            key = fm.group(1).lower()
            if key == b"loc" and loc is None:
                loc = _unescape(fm.group(2)).decode("utf-8", "replace")
            elif key == b"lastmod" and lastmod is None:
                lastmod = fm.group(2).decode("ascii", "replace")
        if loc:
            entries.append((loc, lastmod))
            if len(entries) >= MAX_URLS_PER_SITEMAP:
                break
    return kind, entries


def read_sitemaps(df, body_col: str = "body",
                  keep_cols: tuple[str, ...] = ()):
    """Spark reader: rows carrying sitemap bytes -> one row per entry
    (loc, lastmod, kind), Arrow-batched through the SAME parse_sitemap
    the tests pin; `keep_cols` (e.g. the fetch host or path) ride along.
    kind='sitemap' rows are an index's children — feed them back through
    the fetcher for the next round (indexes are one level deep by spec).

    1->N fan-out via mapInPandas; caps make each input row's output
    bounded (50k entries), so batch memory is bounded too."""
    from pyspark.sql import functions as F  # noqa: F401 (schema parity)
    import pandas as pd

    cols = list(keep_cols) + [body_col]
    sel = df.select(*cols)

    def gen(batches):
        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in keep_cols}
            rows.update({"loc": [], "lastmod": [], "kind": []})
            for tup in pdf.itertuples(index=False):
                rec = dict(zip(cols, tup))
                kind, entries = parse_sitemap(rec[body_col])
                ek = "sitemap" if kind == "index" else "url"
                for loc, lastmod in entries:
                    for c in keep_cols:
                        rows[c].append(rec[c])
                    rows["loc"].append(loc)
                    rows["lastmod"].append(lastmod)
                    rows["kind"].append(ek)
            yield pd.DataFrame(rows)

    carry_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep_cols)
    schema = (carry_schema + ", " if carry_schema else "") + \
        "loc string, lastmod string, kind string"
    return sel.mapInPandas(gen, schema)


def expand_frontier(seeds, fetch, loc_col: str = "loc",
                    max_rounds: int = 4):
    """Bounded multi-round crawl-frontier expansion: follow sitemap
    INDEX entries (kind='sitemap') through `fetch` until only page URLs
    remain, a frontier round comes back empty, or `max_rounds` is hit.

    seeds   DataFrame with `loc_col`: the root sitemap locations
            (typically robots.txt 'Sitemap:' lines).
    fetch   callable: DataFrame('loc') -> DataFrame('loc', 'body'
            binary). The I/O seam — a real crawl backs it with a fetch
            store or WARC lookup; tests and the planted driver query
            back it with deterministic JVM body synthesis. Rows fetch
            cannot produce may simply be absent (they contribute no
            entries).

    Returns one row per DISCOVERED PAGE URL: (loc, lastmod, src_loc,
    round int) where src_loc is the sitemap that listed it and round is
    the expansion depth (seeds are round 1). Spec says indexes nest one
    level, so real crawls finish in 2 rounds; the loop tolerates deeper
    trees up to max_rounds.

    Termination + plan hygiene (the connected-components discipline,
    operators/dedup.py): already-visited sitemap locs are anti-joined
    out each round, so cycles cannot loop; and every per-round frame
    (frontier, visited, accumulated urls) is EAGERLY localCheckpoint'ed
    — a lazy loop plan would re-run every prior round's fetch+parse per
    round and deepen the unresolved tree past the analyzer's limits.
    The per-round empty check is one bounded count on the (small,
    sitemap-loc-sized) frontier — the one deliberate driver-side step,
    same as CC's fused change detection."""
    from pyspark.sql import functions as F

    frontier = (seeds.select(F.col(loc_col).alias("loc")).distinct()
                .localCheckpoint(eager=True))
    visited = frontier
    acc = None
    for rnd in range(1, max_rounds + 1):
        if frontier.isEmpty():
            break
        fetched = fetch(frontier)
        parsed = read_sitemaps(
            fetched.withColumnRenamed("loc", "src_loc"),
            body_col="body", keep_cols=("src_loc",))
        urls = (parsed.filter(F.col("kind") == "url")
                .select("loc", "lastmod", "src_loc",
                        F.lit(rnd).cast("int").alias("round")))
        acc = urls if acc is None else acc.unionByName(urls)
        acc = acc.localCheckpoint(eager=True)
        nxt = (parsed.filter(F.col("kind") == "sitemap")
               .select("loc").distinct()
               .join(visited, "loc", "left_anti")
               .localCheckpoint(eager=True))
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    if acc is None:
        spark = seeds.sparkSession
        return spark.createDataFrame(
            [], "loc string, lastmod string, src_loc string, round int")
    return acc
