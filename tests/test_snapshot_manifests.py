"""The snapshot reader's view of hand-written manifest directories, with
no Spark: which snapshots are live, in what order, and which stores the
kernel-version guard refuses."""

from __future__ import annotations

import json

import pytest

from llmap_spark.kernel import KERNEL_VERSION
from llmap_spark.sources import snapshot as snap

OLD = "0.0.1-old"


def _manifest(sid: int, kernel: str = KERNEL_VERSION, **extra) -> dict:
    return {"snapshot_id": sid, "parent_id": sid - 1 if sid > 1 else None,
            "data_path": f"/store/data/snap-{sid:06d}",
            "lineage_path": f"/store/lineage/snap-{sid:06d}",
            "n_rows": 10 * sid, "kernel_version": kernel, **extra}


def _write(root, manifests, extra_files=()):
    mdir = root / snap.MANIFEST_DIR
    mdir.mkdir(parents=True)
    for m in manifests:
        (mdir / f"snapshot-{m['snapshot_id']:06d}.json").write_text(
            json.dumps(m))
    for name, text in extra_files:
        (mdir / name).write_text(text)


# case -> (manifests, extra files in _snapshots/, live ids in order)
LIVE_CASES = {
    "one_commit": ([_manifest(1)], (), [1]),
    "ascending_by_id": ([_manifest(3), _manifest(1), _manifest(2)], (),
                        [1, 2, 3]),
    # 'snapshot-1000000.json' sorts before 'snapshot-999999.json' by name
    "id_past_pad_width": ([_manifest(999999), _manifest(1000000)], (),
                          [999999, 1000000]),
    "compaction_hides_sources": (
        [_manifest(1), _manifest(2), _manifest(3, replaces=[1, 2])], (), [3]),
    # a crashed cleanup left manifest 1 behind after compaction 3 was
    # itself compacted away: the transitive list of 5 still hides it
    "transitive_orphan_hidden": (
        [_manifest(1), _manifest(4), _manifest(5, replaces=[1, 2, 3, 4])],
        (), [5]),
    "commits_after_compaction_live": (
        [_manifest(3, replaces=[1, 2]), _manifest(4), _manifest(5)], (),
        [3, 4, 5]),
    # each compaction hides the orphans of its own sources
    "two_compactions": (
        [_manifest(1), _manifest(3, replaces=[1, 2]), _manifest(4),
         _manifest(6, replaces=[4, 5]), _manifest(7)], (), [3, 6, 7]),
    # the publisher's temporary file is never read, even half-written
    "tmp_manifest_ignored": (
        [_manifest(1)], ((".snapshot-000002.json.tmp", '{"snapshot_id": 2'),),
        [1]),
}


@pytest.mark.parametrize("case", sorted(LIVE_CASES))
def test_committed_snapshots_live_set(tmp_path, case):
    manifests, extra, want = LIVE_CASES[case]
    _write(tmp_path, manifests, extra)
    got = snap.committed_snapshots(str(tmp_path))
    assert [s.snapshot_id for s in got] == want


def test_committed_snapshots_without_manifest_dir(tmp_path):
    # data written but never committed: no _snapshots/ at all
    (tmp_path / "data" / "snap-000001").mkdir(parents=True)
    assert snap.committed_snapshots(str(tmp_path)) == []
    assert snap.committed_snapshots(str(tmp_path / "missing")) == []


def test_committed_snapshot_fields(tmp_path):
    _write(tmp_path, [_manifest(1), _manifest(2, kernel=OLD)])
    first, second = snap.committed_snapshots(str(tmp_path))
    assert first == snap.Snapshot(1, "/store/data/snap-000001",
                                  "/store/lineage/snap-000001", 10,
                                  KERNEL_VERSION, None)
    assert (second.parent_id, second.n_rows, second.kernel_version) == \
        (1, 20, OLD)


# case -> (manifests, stale ids the guard must name, or None to pass)
KERNEL_CASES = {
    "all_current": ([_manifest(1), _manifest(2)], None),
    "one_stale": ([_manifest(1), _manifest(2, kernel=OLD)], [2]),
    "every_stale_named": (
        [_manifest(1, kernel=OLD), _manifest(2), _manifest(3, kernel=OLD),
         _manifest(4, kernel=OLD)], [1, 3, 4]),
    # stale snapshots a current compaction replaced are not in the table
    "retired_stale_ignored": (
        [_manifest(1, kernel=OLD), _manifest(2, kernel=OLD),
         _manifest(3, replaces=[1, 2])], None),
}


@pytest.mark.parametrize("case", sorted(KERNEL_CASES))
def test_refuse_other_kernels(tmp_path, case):
    manifests, stale = KERNEL_CASES[case]
    _write(tmp_path, manifests)
    live = snap.committed_snapshots(str(tmp_path))
    if stale is None:
        snap._refuse_other_kernels(live, str(tmp_path))
        return
    with pytest.raises(ValueError) as exc:
        snap._refuse_other_kernels(live, str(tmp_path))
    msg = str(exc.value)
    assert f"snapshots {stale} in {tmp_path}" in msg
    assert f"current {KERNEL_VERSION}" in msg


def test_publish_then_read_back(tmp_path):
    """_publish leaves exactly the committed manifest, named by the
    zero-padded id, and the reader sees it."""
    mdir = tmp_path / snap.MANIFEST_DIR
    snap._publish(mdir, _manifest(7))
    snap._publish(mdir, _manifest(1000000))
    assert sorted(p.name for p in mdir.iterdir()) == [
        "snapshot-000007.json", "snapshot-1000000.json"]
    got = snap.committed_snapshots(str(tmp_path))
    assert [s.snapshot_id for s in got] == [7, 1000000]
