import json

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import check
import gen
from llmap_spark import corpus


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("pages")
    rows = gen.make_pages(seed=5, n_pages=40, hot_share=None)
    for k in range(2):
        pq.write_table(pa.Table.from_pylist(rows[k::2], schema=corpus.PAGES_SCHEMA),
                       out / f"part-{k}.parquet")
    return out


def commit(root, data: pa.Table, n_rows: list[int], snapshot_id=1):
    """A committed snapshot in the program's layout, written by hand."""
    data_path = root / "data" / f"snap-{snapshot_id:06d}"
    lin_path = root / "lineage" / f"snap-{snapshot_id:06d}"
    data_path.mkdir(parents=True)
    lin_path.mkdir(parents=True)
    pq.write_table(data, data_path / "part-0.parquet")
    pq.write_table(pa.table({"n_rows": n_rows, "n_ok": n_rows,
                             "n_err": [0] * len(n_rows),
                             "n_empty": [0] * len(n_rows)}),
                   lin_path / "part-0.parquet")
    mdir = root / "_snapshots"
    mdir.mkdir(exist_ok=True)
    (mdir / f"snapshot-{snapshot_id:06d}.json").write_text(json.dumps(
        {"snapshot_id": snapshot_id, "data_path": str(data_path),
         "lineage_path": str(lin_path)}))


def test_oracle_table_is_the_same_on_worker_processes(pages_dir):
    one = check.oracle_table(pages_dir)
    assert one.num_rows == 40
    assert check.oracle_table(pages_dir, workers=2).equals(one)


def test_correct_output_passes(tmp_path, pages_dir):
    expected = check.oracle_table(pages_dir)
    commit(tmp_path, expected, [25, 15])
    failed, detail = check.check_crawl(tmp_path, expected)
    assert failed == 0, detail


def test_one_flipped_byte_fails_one_row(tmp_path, pages_dir):
    expected = check.oracle_table(pages_dir)
    texts = expected.column("extracted_text").to_pylist()
    k = next(i for i, t in enumerate(texts) if t)
    b = bytearray(texts[k].encode())
    b[len(b) // 2] ^= 0x01
    texts[k] = b.decode()
    idx = expected.schema.get_field_index("extracted_text")
    flipped = expected.set_column(idx, "extracted_text", pa.array(texts, pa.string()))
    commit(tmp_path, flipped, [40])
    failed, detail = check.check_crawl(tmp_path, expected)
    assert failed == 1
    assert detail["mismatched"] == 1


def test_missing_duplicated_and_lineage_rows_fail(tmp_path, pages_dir):
    expected = check.oracle_table(pages_dir)
    dropped = expected.filter(pc.not_equal(expected.column("url"),
                                           expected.column("url")[0]))
    twice = expected.slice(1, 2)
    # one url missing, two committed twice, lineage short by one row
    commit(tmp_path, pa.concat_tables([dropped, twice]), [40])
    failed, detail = check.check_crawl(tmp_path, expected)
    assert detail["missing"] == 1
    assert detail["duplicated"] == 2
    assert failed == 1 + 2 + 1


def test_curate_check_counts_kept_copies_foreign_ids_and_duplicates(tmp_path):
    pq.write_table(pa.table({"doc_id": [1, 2, 2, 9, 5], "text": list("abcde")}),
                   tmp_path / "part-0.parquet")
    failed, detail, digest = check.check_curate(tmp_path, set(range(6)), [5])
    assert detail == {"rows": 5, "duplicated": 1, "foreign": 1, "kept_copies": 1}
    assert failed == 3
    assert digest == check.check_curate(tmp_path, set(range(6)), [5])[2]
