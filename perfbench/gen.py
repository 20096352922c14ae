"""Seeded workload inputs for the benchmark.

Everything is derived from ``--seed`` alone: documents are drawn from the
same 30-word vocabulary, 10..100-word length range and language mix as the
repo's synthetic ``documents`` fixture, and pages wrap them with the page
builders of ``llmap_spark.corpus`` (all 8 templates plus the periodic
edge-case rows). No file outside the checkout is read.

Outputs are multi-file parquet directories (one fat file would cap the scan
at ~3 splits) cached under ``<cache>/<workload>-s<seed>-g<GEN_VERSION>``;
bump GEN_VERSION whenever the generated bytes change.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from llmap_spark import corpus

GEN_VERSION = "4"

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
# held-out benchmark texts use their own words, so only the planted
# contamination shares n-grams with them
BENCH_VOCAB = ("alpha bravo charlie delta echo foxtrot golf hotel india "
               "juliet kilo lima mike november oscar papa quebec romeo "
               "sierra tango").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
BOILER_PARAS = [f"subscribe to the {w} newsletter for weekly {v} updates today"
                for w, v in zip(VOCAB[:12], VOCAB[12:24])]

# workload -> sizes. Pages: rows in the input. Resume: share of the input
# already committed before each timed run.
SIZES = {
    "crawl_extract": {"pages": 12_000, "files": 24, "hot_share": None},
    "crawl_resume_skewed": {"pages": 8_000, "files": 16, "hot_share": 0.85,
                            "committed_share": 0.9},
    "curate_corpus": {"docs": 1_500, "files": 8, "exact_copies": 150,
                      "near_dups": 150, "contaminated": 30, "bench_texts": 40},
}

DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string())])


def _rng(seed: int, *key) -> random.Random:
    h = hashlib.blake2b(repr((seed,) + key).encode(), digest_size=8).digest()
    return random.Random(int.from_bytes(h, "little"))


def doc_text(rng: random.Random) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))


def _hot_host(rng: random.Random, hot_share: float) -> str:
    if rng.random() < hot_share:
        return rng.choice(corpus.HOT_HOSTS)
    return f"site-{rng.randrange(2000)}.example.io"


def _write_parts(rows: list[dict], schema: pa.Schema, out: Path,
                 n_files: int) -> None:
    out.mkdir(parents=True)
    per = (len(rows) + n_files - 1) // n_files
    for k in range(n_files):
        part = rows[k * per:(k + 1) * per]
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       out / f"part-{k:05d}.parquet", compression="zstd")


def make_pages(seed: int, n_pages: int, hot_share: float | None) -> list[dict]:
    """Pages in the corpus layout: template ``i % 8``, edge-case rows at the
    corpus' residues, hosts from the corpus' mild Zipf pool, or skewed onto
    the hot hosts with probability ``hot_share``."""
    rows = []
    for i in range(n_pages):
        rng = _rng(seed, "page", i)
        text = doc_text(rng)
        host = (corpus._host(rng) if hot_share is None
                else _hot_host(rng, hot_share))
        kind = corpus.EDGE_RESIDUES.get(i % 1000)
        tpl = i % corpus.N_TEMPLATES
        if kind is not None:
            url = f"https://{host}/edge/{kind}/s{seed}/p{i}"
            html = corpus._edge_html(kind, text)
        else:
            url = f"https://{host}/t{tpl}/s{seed}/p{i}"
            html = corpus._page_html(i, tpl, text, rng)
        rows.append({"url": url, "warc_ts": corpus.EPOCH + timedelta(seconds=7 * i),
                     "html": html, "text": text,
                     "lang": rng.choices(LANGS, LANG_WEIGHTS)[0]})
    return rows


def _edit(text: str, rng: random.Random) -> str:
    words = text.split()
    for _ in range(1 + len(words) // 40):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


def make_documents(seed: int, size: dict) -> tuple[list[dict], list[dict], dict]:
    """(documents, benchmark rows, plant record). Base documents get
    paragraph breaks, shared boilerplate paragraphs, PII and a few
    low-quality rows; then exact copies, near-duplicate edits (1-3 edits of
    a source document per draw, far below the LSH max_bucket) and
    benchmark-contaminated rows are appended with ids above every base id."""
    n = size["docs"]
    docs = []
    for i in range(n):
        rng = _rng(seed, "doc", i)
        if rng.random() < 0.03:  # fails the quality gate (too few words)
            text = " ".join(rng.choices(VOCAB, k=rng.randint(3, 8)))
        else:
            words = rng.choices(VOCAB, k=rng.randint(20, 100))
            cut = sorted(rng.sample(range(1, len(words)), rng.randint(0, 2)))
            paras = [" ".join(words[a:b])
                     for a, b in zip([0] + cut, cut + [len(words)])]
            if rng.random() < 0.2:
                paras.insert(rng.randint(0, len(paras)), rng.choice(BOILER_PARAS))
            r = rng.random()
            if r < 0.02:
                paras.append(f"contact user{i}@example.com for the data")
            elif r < 0.04:
                paras.append(f"the host 10.{i % 256}.{i // 256 % 256}.7 is fast")
            elif r < 0.06:
                paras.append(f"call 555-{i % 1000:03d}-{i % 10000:04d} for a query")
            text = "\n\n".join(paras)
        docs.append({"doc_id": i, "text": text,
                     "lang": rng.choices(LANGS, LANG_WEIGHTS)[0]})

    rng = _rng(seed, "plant")
    bench = [{"text": " ".join(rng.choices(BENCH_VOCAB, k=30))}
             for _ in range(size["bench_texts"])]
    next_id = n
    copies = []
    for src in rng.sample(range(n), size["exact_copies"]):
        docs.append({**docs[src], "doc_id": next_id})
        copies.append(next_id)
        next_id += 1
    long_ids = [d["doc_id"] for d in docs[:n] if len(d["text"].split()) >= 40]
    remaining = size["near_dups"]
    while remaining > 0:
        src = docs[rng.choice(long_ids)]
        for _ in range(min(remaining, rng.randint(1, 3))):
            docs.append({**src, "doc_id": next_id, "text": _edit(src["text"], rng)})
            next_id += 1
            remaining -= 1
    contaminated = []
    for _ in range(size["contaminated"]):
        b = rng.choice(bench)["text"].split()
        at = rng.randrange(len(b) - 8)
        text = doc_text(rng) + "\n\n" + " ".join(b[at:at + 8])
        docs.append({"doc_id": next_id, "text": text,
                     "lang": rng.choices(LANGS, LANG_WEIGHTS)[0]})
        contaminated.append(next_id)
        next_id += 1
    # shuffle row order so plants are spread over the input files
    rng.shuffle(docs)
    return docs, bench, {"exact_copies": copies, "contaminated": contaminated}


def generate(workload: str, seed: int, cache_root: Path) -> Path:
    """Generate (or reuse) the inputs of one workload and seed; returns the
    cache directory. Layout: ``pages/`` or ``documents/`` + ``benchmark/``,
    and ``meta.json`` (row counts, plants)."""
    out = cache_root / f"{workload}-s{seed}-g{GEN_VERSION}"
    if (out / "meta.json").exists():
        return out
    tmp = cache_root / f".tmp-{os.getpid()}-{out.name}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    size = SIZES[workload]
    if workload == "curate_corpus":
        docs, bench, plants = make_documents(seed, size)
        _write_parts(docs, DOCS_SCHEMA, tmp / "documents", size["files"])
        _write_parts(bench, pa.schema([("text", pa.string())]),
                     tmp / "benchmark", 1)
        meta = {"rows": len(docs), **plants}
    else:
        pages = make_pages(seed, size["pages"], size["hot_share"])
        _write_parts(pages, corpus.PAGES_SCHEMA, tmp / "pages", size["files"])
        meta = {"rows": len(pages)}
        if "committed_share" in size:
            # the part committed before each run: a seeded sample of the urls
            rng = _rng(seed, "committed")
            k = int(len(pages) * size["committed_share"])
            picked = sorted(rng.sample(range(len(pages)), k))
            _write_parts([pages[i] for i in picked], corpus.PAGES_SCHEMA,
                         tmp / "committed_pages", size["files"])
            meta["committed_rows"] = k
    (tmp / "meta.json").write_text(json.dumps(meta))
    try:
        os.rename(tmp, out)
    except OSError:  # another process committed the same inputs first
        shutil.rmtree(tmp, ignore_errors=True)
    return out
