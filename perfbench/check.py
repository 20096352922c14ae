"""Correctness checks run after every timed run, outside the timed region.

Crawl workloads: every committed row is compared, per url, with the
single-process oracle (``llmap_spark.oracle.extract_rows``) on the bytes of
``extracted_text``, ``spans`` and ``status``; committed rows must equal the
input rows, and every lineage row must satisfy n_ok + n_err + n_empty =
n_rows. Curation: output ids are a duplicate-free subset of the input ids,
every planted exact copy is dropped, and the output digest repeats.

Each check returns the number of failed rows (plus failed lineage rows).
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq


def row_digest(text: str | None, spans, status: str | None) -> str:
    h = hashlib.blake2b(digest_size=12)
    h.update((text or "").encode("utf-8", "surrogatepass"))
    h.update(b"\x00")
    h.update(",".join(f"{s['start']}:{s['end']}" for s in spans or []).encode())
    h.update(b"\x00")
    h.update((status or "").encode())
    return h.hexdigest()


# the compared columns, in one canonical Arrow schema for both sides
COMPARED = pa.schema([
    ("url", pa.string()), ("extracted_text", pa.string()),
    ("spans", pa.list_(pa.struct([("start", pa.int64()), ("end", pa.int64())]))),
    ("status", pa.string())])


def _oracle_file(path: Path) -> pa.Table:
    from llmap_spark.oracle import extract_rows

    rows = extract_rows(pq.read_table(path, columns=["url", "html"]).to_pylist())
    return pa.Table.from_pylist(
        [{k: r[k] for k in COMPARED.names} for r in rows], schema=COMPARED)


def oracle_table(pages_dir, workers: int = 1) -> pa.Table:
    """The oracle's extraction of the input pages, sorted by url, one input
    file per task on ``workers`` spawned processes."""
    files = sorted(Path(pages_dir).glob("*.parquet"))
    if workers <= 1:
        parts = [_oracle_file(f) for f in files]
    else:
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(workers, mp_context=ctx) as pool:
            parts = list(pool.map(_oracle_file, files))
    return pa.concat_tables(parts).sort_by("url")


def _digests(t: pa.Table) -> list[tuple[str, str]]:
    return [(url, row_digest(text, spans, status)) for url, text, spans, status
            in zip(*(t.column(c).to_pylist() for c in COMPARED.names))]


def live_manifests(out_root) -> list[dict]:
    """Committed, not-retired snapshot manifests (the reader's view)."""
    mdir = Path(out_root) / "_snapshots"
    ms = [json.loads(f.read_text()) for f in mdir.glob("snapshot-*.json")]
    retired = {i for m in ms for i in m.get("replaces", [])}
    return [m for m in ms if m["snapshot_id"] not in retired]


def check_crawl(out_root, expected: pa.Table) -> tuple[int, dict]:
    """Failed rows of a committed output root against the oracle table."""
    manifests = live_manifests(out_root)
    parts = [pq.read_table(m["data_path"], columns=COMPARED.names).cast(COMPARED)
             for m in manifests]
    data = (pa.concat_tables(parts) if parts else COMPARED.empty_table()).sort_by("url")
    if data.equals(expected):  # the common case, compared in bulk
        dup = mismatch = missing = 0
    else:
        want = dict(_digests(expected))
        seen: set[str] = set()
        dup = mismatch = 0
        for url, digest in _digests(data):
            if url in seen:
                dup += 1
                continue
            seen.add(url)
            mismatch += int(want.get(url) != digest)
        missing = len(want.keys() - seen)
    lineage_rows = lineage_bad = lineage_total = 0
    for m in manifests:
        lin = pq.read_table(m["lineage_path"],
                            columns=["n_rows", "n_ok", "n_err", "n_empty"])
        for n, ok, err, empty in zip(*(lin.column(c).to_pylist()
                                       for c in lin.column_names)):
            lineage_rows += 1
            lineage_total += n
            lineage_bad += int(ok + err + empty != n)
    failed = dup + mismatch + missing + lineage_bad
    failed += abs(lineage_total - data.num_rows)
    return failed, {"committed": data.num_rows, "duplicated": dup,
                    "mismatched": mismatch, "missing": missing,
                    "lineage_rows": lineage_rows, "lineage_bad": lineage_bad,
                    "snapshots": len(manifests)}


def check_curate(out_dir, input_ids: set[int],
                 planted_copies: list[int]) -> tuple[int, dict, str]:
    """(failed, details, digest of the sorted output rows)."""
    t = pq.read_table(out_dir).sort_by("doc_id")
    ids = t.column("doc_id").to_pylist()
    dup = len(ids) - len(set(ids))
    foreign = len(set(ids) - input_ids)
    kept_copies = len(set(ids) & set(planted_copies))
    h = hashlib.blake2b(digest_size=16)
    for row in zip(*(t.column(c).to_pylist() for c in t.column_names)):
        h.update(repr(row).encode("utf-8", "surrogatepass"))
    return dup + foreign + kept_copies, {
        "rows": len(ids), "duplicated": dup, "foreign": foreign,
        "kept_copies": kept_copies}, h.hexdigest()


def main(argv: list[str]) -> int:
    """python3 perfbench/check.py <pages dir> <out.parquet> <workers>:
    writes the oracle table of the pages."""
    pages, out, workers = argv
    pq.write_table(oracle_table(pages, int(workers)), out)
    return 0


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    sys.exit(main(sys.argv[1:]))
