"""Single-process reference extractor (the oracle).

Row-at-a-time runner over the same kernel the Spark UDFs use; tests assert
the Spark plumbing preserves kernel output byte-for-byte. Modeled on the
reference's only self-contained correctness tool, the manual CLI harness
``python parse.py <skeleton|chunk|tokens> <files...>`` (reference
parse.py:254-281).

CLI:
    python -m llmap_spark.oracle blocks  <file.html> [...]
    python -m llmap_spark.oracle extract <file.html> [...]
    python -m llmap_spark.oracle status  <file.html> [...]
"""

from __future__ import annotations

import sys
from pathlib import Path

from llmap_spark import kernel


def extract_rows(pages: list[dict]) -> list[dict]:
    """pages: dicts with at least url + html(bytes). Returns the oracle's
    extracted rows in the engine output contract (FIXTURES.md §2/§3)."""
    out = []
    for p in pages:
        r = kernel.extract_page(p.get("html"))
        out.append({
            "url": p["url"],
            "warc_ts": p.get("warc_ts"),
            "lang": p.get("lang"),
            "extracted_text": r.extracted_text,
            "spans": [{"start": s, "end": e} for s, e in r.spans],
            "n_blocks_kept": r.n_blocks_kept,
            "n_blocks_total": r.n_blocks_total,
            "status": r.status,
        })
    return out


def extract_parquet(pages_path: str) -> "pyarrow.Table":  # noqa: F821
    """Run the oracle over a pages parquet file; returns a pyarrow Table of
    extracted rows sorted by url. No Spark involved."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(pages_path, columns=["url", "warc_ts", "lang", "html"])
    rows = extract_rows([
        {"url": u, "warc_ts": w, "lang": lg, "html": h}
        for u, w, lg, h in zip(
            t.column("url").to_pylist(), t.column("warc_ts").to_pylist(),
            t.column("lang").to_pylist(), t.column("html").to_pylist(),
        )
    ])
    rows.sort(key=lambda r: r["url"])
    return pa.Table.from_pylist(rows)


def main(argv: list[str]) -> int:
    if len(argv) < 2 or argv[0] not in {"blocks", "extract", "status"}:
        print(__doc__, file=sys.stderr)
        return 2
    cmd, files = argv[0], argv[1:]
    for f in files:
        # warn + drop nonexistent inputs (reference llmap.py:259-261)
        if not Path(f).is_file():
            print(f"warning: skipping nonexistent file {f}", file=sys.stderr)
            continue
        html = Path(f).read_bytes()
        if cmd == "blocks":
            dec = kernel.decode_html(html)
            blocks, _, _ = kernel.parse_blocks(dec.text)
            keep = kernel.classify(blocks)
            for b, k in zip(blocks, keep):
                mark = "KEEP" if k else ("cand" if b.candidate else "drop")
                print(f"{f}\t{b.idx}\t{mark}\t{b.tag}\t[{b.start}:{b.end}]\t"
                      f"tok={b.n_tokens}\tlink={b.n_link_chars}/{b.n_chars}\t"
                      f"{b.text[:60]!r}")
        elif cmd == "extract":
            print(kernel.extract_page(html).extracted_text)
        else:
            r = kernel.extract_page(html)
            print(f"{f}\t{r.status}\tkept={r.n_blocks_kept}/{r.n_blocks_total}\t"
                  f"chars={len(r.extracted_text)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
