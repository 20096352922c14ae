"""The oracle CLI and the Arrow adapter against ``kernel.extract_page``, on
one page of every corpus template and every edge kind.

Both sit between the kernel and a consumer (a person at a terminal, the
Spark plan), so each must reproduce the kernel's result exactly.
"""

from __future__ import annotations

import random
from datetime import datetime

import pyarrow as pa
import pytest

from llmap_spark import corpus, kernel, oracle
from llmap_spark.functions.extract_udfs import extract_fused_arrow

DOC = ("The harbour authority said on Monday that the new ferry terminal "
       "will open in the spring after two years of delays. Engineers "
       "finished the final safety inspection last week and the first "
       "crossings are already fully booked. Local shops expect more "
       "visitors once the timetable is published, and the council plans "
       "a second car park near the pier. Residents asked for quieter "
       "night services and the operator agreed to review the schedule.")


def _page_kinds() -> dict[str, bytes]:
    kinds = {f"t{tpl}": corpus._page_html(11 + tpl, tpl, DOC,
                                          random.Random(tpl))
             for tpl in range(corpus.N_TEMPLATES)}
    for kind in corpus.EDGE_RESIDUES.values():
        kinds[kind] = corpus._edge_html(kind, DOC)
    return kinds


PAGES = _page_kinds()


@pytest.fixture()
def page_file(tmp_path, request):
    path = tmp_path / f"{request.param}.html"
    path.write_bytes(PAGES[request.param])
    return str(path)


@pytest.mark.parametrize("page_file", sorted(PAGES), indirect=True)
def test_cli_extract_prints_kernel_text(page_file, capsys):
    assert oracle.main(["extract", page_file]) == 0
    html = open(page_file, "rb").read()
    assert capsys.readouterr().out == kernel.extract_page(html).extracted_text + "\n"


@pytest.mark.parametrize("page_file", sorted(PAGES), indirect=True)
def test_cli_status_line_matches_kernel(page_file, capsys):
    assert oracle.main(["status", page_file]) == 0
    r = kernel.extract_page(open(page_file, "rb").read())
    assert capsys.readouterr().out == (
        f"{page_file}\t{r.status}\tkept={r.n_blocks_kept}/{r.n_blocks_total}"
        f"\tchars={len(r.extracted_text)}\n")


@pytest.mark.parametrize("page_file", sorted(PAGES), indirect=True)
def test_cli_blocks_one_line_per_block(page_file, capsys):
    assert oracle.main(["blocks", page_file]) == 0
    lines = capsys.readouterr().out.splitlines()
    r = kernel.extract_page(open(page_file, "rb").read())
    assert len(lines) == r.n_blocks_total
    marks = [line.split("\t")[2] for line in lines]
    assert marks.count("KEEP") == r.n_blocks_kept
    assert set(marks) <= {"KEEP", "cand", "drop"}
    assert [int(line.split("\t")[1]) for line in lines] == list(range(len(lines)))


@pytest.mark.parametrize("argv", [[], ["extract"], ["meta", "x.html"],
                                  ["pixels", "x.png"], ["bogus", "x"],
                                  ["lang", "x.txt"]])
def test_cli_rejects_usage_outside_its_commands(argv, capsys):
    assert oracle.main(argv) == 2
    err = capsys.readouterr().err
    for cmd in ("blocks", "extract", "status"):
        assert f"oracle {cmd}" in err


def test_cli_skips_missing_file(tmp_path, capsys):
    good = tmp_path / "good.html"
    good.write_bytes(PAGES["t0"])
    assert oracle.main(["status", str(tmp_path / "gone.html"), str(good)]) == 0
    cap = capsys.readouterr()
    assert "skipping nonexistent file" in cap.err
    assert cap.out.startswith(f"{good}\tok\t")


def _batch(urls: list[str]) -> pa.RecordBatch:
    n = len(urls)
    return pa.RecordBatch.from_pydict({
        "url": urls,
        "warc_ts": pa.array([datetime(2025, 1, 1)] * n, pa.timestamp("us")),
        "lang": pa.array(["en"] * n),
        "html": pa.array([PAGES.get(u) for u in urls], pa.binary()),
        "salt_bucket": pa.array(range(n), pa.int32()),
    })


@pytest.mark.parametrize("kind", sorted(PAGES))
def test_arrow_adapter_matches_oracle_rows(kind):
    (out,) = list(extract_fused_arrow([_batch([kind])]))
    got = out.to_pylist()[0]
    want = oracle.extract_rows([{"url": kind, "warc_ts": datetime(2025, 1, 1),
                                 "lang": "en", "html": PAGES[kind]}])[0]
    assert {k: got[k] for k in want} == want
    assert got["bytes_in"] == len(PAGES[kind])
    assert got["salt_bucket"] == 0


def test_arrow_adapter_keeps_rows_and_batches_aligned():
    # spans are built from flat offsets: a row's spans must not bleed into
    # its neighbours, across a null page and across batch boundaries
    kinds = sorted(PAGES)
    batches = [_batch(kinds[:5] + ["missing"]), _batch(kinds[5:])]
    rows = [r for b in extract_fused_arrow(batches) for r in b.to_pylist()]
    assert [r["url"] for r in rows] == kinds[:5] + ["missing"] + kinds[5:]
    for r in rows:
        html = PAGES.get(r["url"])
        want = kernel.extract_page(html)
        assert [(s["start"], s["end"]) for s in r["spans"]] == want.spans
        assert r["status"] == want.status
        assert r["bytes_in"] == (len(html) if html is not None else 0)
    assert rows[5]["status"] == "empty"
