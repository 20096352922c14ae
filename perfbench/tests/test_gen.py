import json

import pyarrow.parquet as pq

import gen


def test_same_seed_same_pages_other_seed_other_pages():
    a = gen.make_pages(seed=3, n_pages=30, hot_share=None)
    assert a == gen.make_pages(seed=3, n_pages=30, hot_share=None)
    assert a != gen.make_pages(seed=4, n_pages=30, hot_share=None)


def test_skewed_pages_mostly_land_on_hot_hosts():
    pages = gen.make_pages(seed=1, n_pages=400, hot_share=0.85)
    hot = sum(any(f"//{h}/" in p["url"] for h in gen.corpus.HOT_HOSTS)
              for p in pages)
    assert 0.75 < hot / len(pages) < 0.95


def test_documents_plant_copies_near_dups_and_contamination():
    size = {"docs": 300, "exact_copies": 30, "near_dups": 30,
            "contaminated": 6, "bench_texts": 4}
    docs, bench, plants = gen.make_documents(7, size)
    assert len(docs) == 300 + 30 + 30 + 6
    assert len({d["doc_id"] for d in docs}) == len(docs)
    by_id = {d["doc_id"]: d["text"] for d in docs}
    texts = [by_id[i] for i in range(300)]
    assert all(by_id[c] in texts for c in plants["exact_copies"])
    for c in plants["contaminated"]:
        tail = by_id[c].split("\n\n")[-1]  # 8 words of a held-out text
        assert len(tail.split()) == 8
        assert any(tail in b["text"] for b in bench)
    assert (docs, bench, plants) == gen.make_documents(7, size)


def test_generate_writes_multi_file_inputs_once(tmp_path):
    out = gen.generate("curate_corpus", 2, tmp_path)
    meta = json.loads((out / "meta.json").read_text())
    files = sorted((out / "documents").glob("*.parquet"))
    assert len(files) == gen.SIZES["curate_corpus"]["files"]
    assert sum(pq.read_metadata(f).num_rows for f in files) == meta["rows"]
    stamp = (out / "meta.json").stat().st_mtime_ns
    assert gen.generate("curate_corpus", 2, tmp_path) == out
    assert (out / "meta.json").stat().st_mtime_ns == stamp
