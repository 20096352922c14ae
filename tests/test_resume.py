"""Snapshot commit + anti-join resume (SURVEY §5.2 E2E: resume).

Simulates a killed run: commit a partial snapshot, then rerun the same job
and assert completion with no duplicate and no missing urls, and that
already-committed urls were not recomputed (lineage row counts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from llmap_spark.plans.pipeline import ExtractConfig
from llmap_spark.sources import snapshot as snap


def test_partial_then_resume(spark, pages_smoke, out_dir):
    pages = spark.read.parquet(pages_smoke)
    total = pages.count()

    # run 1: only a prefix of the input "arrives" (simulated partial run)
    part1 = pages.orderBy("url").limit(total // 3)
    s1 = snap.run_extract_job(spark, part1, out_dir, ExtractConfig())
    assert s1 is not None and s1.snapshot_id == 1
    assert s1.n_rows == total // 3

    # run 2: full input; resume must only process the remainder
    s2 = snap.run_extract_job(spark, pages, out_dir, ExtractConfig())
    assert s2 is not None and s2.snapshot_id == 2
    assert s2.n_rows == total - total // 3

    ex = snap.read_extracted(spark, out_dir)
    assert ex.count() == total
    assert ex.select("url").distinct().count() == total  # no dups/missing

    # lineage consistent per snapshot, no double counting
    lin = snap.read_lineage(spark, out_dir)
    per_snap = {r.snapshot_id: r.n for r in
                lin.groupBy("snapshot_id").agg(F.sum("n_rows").alias("n")).collect()}
    assert per_snap == {1: total // 3, 2: total - total // 3}

    # run 3: everything committed -> no new snapshot
    s3 = snap.run_extract_job(spark, pages, out_dir, ExtractConfig())
    assert s3 is None
    assert len(snap.committed_snapshots(out_dir)) == 2


def test_uncommitted_garbage_is_ignored(spark, pages_smoke, out_dir):
    """Data dirs without a manifest (crash before rename) are invisible."""
    import pathlib

    pages = spark.read.parquet(pages_smoke)
    s1 = snap.run_extract_job(spark, pages.limit(50), out_dir, ExtractConfig())
    assert s1.n_rows == 50
    # fake a crashed writer: data dir present, no manifest
    ghost = pathlib.Path(out_dir) / "data" / "snap-000099"
    ghost.mkdir(parents=True)
    (ghost / "part-00000.parquet").write_bytes(b"not a real file")
    assert len(snap.committed_snapshots(out_dir)) == 1
    ex = snap.read_extracted(spark, out_dir)
    assert ex.count() == 50


def test_resume_refuses_mixed_kernel_versions(spark, pages_smoke, out_dir):
    import json
    import pathlib

    import pytest

    pages = spark.read.parquet(pages_smoke)
    s1 = snap.run_extract_job(spark, pages.limit(30), out_dir)
    assert s1 is not None
    # simulate a snapshot committed by an older kernel
    mpath = next(pathlib.Path(out_dir, "_snapshots").glob("snapshot-*.json"))
    m = json.loads(mpath.read_text())
    m["kernel_version"] = "0.9.9"
    mpath.write_text(json.dumps(m))
    with pytest.raises(ValueError, match="different .*kernel_version|kernel_version"):
        snap.run_extract_job(spark, pages, out_dir)


def test_compaction_preserves_rows_and_resume(spark, pages_smoke, out_dir):
    """compact_snapshots: one merged snapshot replaces the sources with
    identical rows and lineage history; resume continues seamlessly on
    top of the compacted store."""
    pages = spark.read.parquet(pages_smoke)
    total = pages.count()
    third = total // 3

    ordered = pages.orderBy("url")
    snap.run_extract_job(spark, ordered.limit(third), out_dir, ExtractConfig())
    snap.run_extract_job(spark, ordered.limit(2 * third), out_dir,
                         ExtractConfig())
    before = {(r.url, r.extracted_text, r.status)
              for r in snap.read_extracted(spark, out_dir)
              .select("url", "extracted_text", "status").collect()}
    lin_before = {r.snapshot_id: r.n for r in
                  snap.read_lineage(spark, out_dir).groupBy("snapshot_id")
                  .agg(F.sum("n_rows").alias("n")).collect()}

    c = snap.compact_snapshots(spark, out_dir, repartition=2)
    assert c is not None and c.snapshot_id == 3
    assert c.n_rows == 2 * third
    live = snap.committed_snapshots(out_dir)
    assert [s.snapshot_id for s in live] == [3]
    after = {(r.url, r.extracted_text, r.status)
             for r in snap.read_extracted(spark, out_dir)
             .select("url", "extracted_text", "status").collect()}
    assert after == before
    # lineage history carried verbatim (original snapshot ids preserved)
    lin_after = {r.snapshot_id: r.n for r in
                 snap.read_lineage(spark, out_dir).groupBy("snapshot_id")
                 .agg(F.sum("n_rows").alias("n")).collect()}
    assert lin_after == lin_before

    # resume on top of the compacted store: only the remainder runs
    s_next = snap.run_extract_job(spark, pages, out_dir, ExtractConfig())
    assert s_next is not None and s_next.snapshot_id == 4
    assert s_next.n_rows == total - 2 * third
    ex = snap.read_extracted(spark, out_dir)
    assert ex.count() == total
    assert ex.select("url").distinct().count() == total

    # nothing left to compact twice in a row after a fresh compaction
    assert snap.compact_snapshots(spark, out_dir) is not None  # 3+4 -> 5
    assert snap.compact_snapshots(spark, out_dir) is None      # single live


def test_compaction_crash_window_is_hidden(spark, pages_smoke, out_dir):
    """A crash AFTER the compaction manifest renames but BEFORE cleanup
    leaves the replaced manifests on disk — readers must already ignore
    them (the atomic-switch contract)."""
    pages = spark.read.parquet(pages_smoke).orderBy("url")
    snap.run_extract_job(spark, pages.limit(30), out_dir, ExtractConfig())
    snap.run_extract_job(spark, pages.limit(60), out_dir, ExtractConfig())
    # clean=False simulates dying before step 3: sources still on disk
    c = snap.compact_snapshots(spark, out_dir, clean=False)
    assert c is not None
    import pathlib

    mdir = pathlib.Path(out_dir) / snap.MANIFEST_DIR
    assert (mdir / "snapshot-000001.json").exists()  # garbage remains...
    live = snap.committed_snapshots(out_dir)
    assert [s.snapshot_id for s in live] == [3]      # ...but is hidden
    assert snap.read_extracted(spark, out_dir).count() == 60


def test_second_compaction_does_not_resurrect_orphans(spark, pages_smoke,
                                                      out_dir):
    """Transitive 'replaces': compaction A crashes before cleanup (its
    sources' manifests stay on disk); after another commit, compaction B
    deletes A's manifest — the only record hiding A's sources. Without
    carrying A's replaces forward, snapshots 1-2 would resurrect and
    double-count every row (caught by review with a live repro)."""
    import pathlib

    pages = spark.read.parquet(pages_smoke).orderBy("url")
    snap.run_extract_job(spark, pages.limit(20), out_dir, ExtractConfig())
    snap.run_extract_job(spark, pages.limit(40), out_dir, ExtractConfig())
    # compaction A: manifest lands, cleanup "crashes" (clean=False)
    a = snap.compact_snapshots(spark, out_dir, clean=False)
    assert a.snapshot_id == 3
    snap.run_extract_job(spark, pages.limit(60), out_dir, ExtractConfig())
    # compaction B with cleanup: must retire 1,2 transitively
    b = snap.compact_snapshots(spark, out_dir)
    assert b.snapshot_id == 5
    live = snap.committed_snapshots(out_dir)
    assert [s.snapshot_id for s in live] == [5]
    ex = snap.read_extracted(spark, out_dir)
    assert ex.count() == 60
    assert ex.select("url").distinct().count() == 60  # no resurrection
    # and B's global cleanup removed the crash-orphaned manifests too
    mdir = pathlib.Path(out_dir) / snap.MANIFEST_DIR
    assert sorted(f.name for f in mdir.glob("snapshot-*.json")) == [
        "snapshot-000005.json"]


def test_fresh_commit_runs_at_most_four_jobs(spark, pages_smoke, out_dir):
    """After the data write the commit runs one summary query (a shuffle
    map stage and a collect, two jobs under AQE): no schema inference
    read, no re-read of the data or of the lineage it wrote."""
    sc = spark.sparkContext
    pages = spark.read.parquet(pages_smoke)  # no limit: its shuffle is a job
    sc.setJobGroup("fresh-commit", "run_extract_job")
    try:
        s1 = snap.run_extract_job(spark, pages, out_dir, ExtractConfig())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s1 is not None and s1.n_rows == pages.count()
    assert len(sc.statusTracker().getJobIdsForGroup("fresh-commit")) <= 4


# FIXTURES.md §4, in the order lineage_from builds the columns
LINEAGE_SCHEMA = {
    "partition_id": "int", "salt_bucket": "int", "n_rows": "bigint",
    "n_ok": "bigint", "n_err": "bigint", "n_empty": "bigint",
    "bytes_in": "bigint", "bytes_out": "bigint", "task_attempt": "int",
    "started_at": "timestamp", "finished_at": "timestamp",
    "snapshot_id": "bigint", "kernel_version": "string"}


def test_committed_lineage_contract(spark, pages_smoke, out_dir):
    """The lineage written from the driver-side summary reads back with
    the FIXTURES.md §4 schema and the rows lineage_from derives from the
    committed data; a no-op resume leaves no data or lineage directory
    behind."""
    import pathlib

    from llmap_spark.plans.pipeline import lineage_from

    pages = spark.read.parquet(pages_smoke).orderBy("url").limit(80)
    s1 = snap.run_extract_job(spark, pages, out_dir, ExtractConfig())
    lin = snap.read_lineage(spark, out_dir)
    assert [(f.name, f.dataType.simpleString()) for f in lin.schema] == \
        list(LINEAGE_SCHEMA.items())
    derived = lineage_from(snap.read_extracted(spark, out_dir), snapshot_id=1,
                           started_at="2025-01-01 00:00:00",
                           finished_at="2025-01-01 00:00:00")
    wall = ("started_at", "finished_at")
    assert sorted(lin.drop(*wall).collect()) == \
        sorted(derived.drop(*wall).collect())
    assert lin.agg(F.sum("n_rows")).first()[0] == s1.n_rows == 80

    assert snap.run_extract_job(spark, pages, out_dir, ExtractConfig()) is None
    for kind in ("data", "lineage"):
        dirs = sorted(p.name for p in (pathlib.Path(out_dir) / kind).iterdir())
        assert dirs == ["snap-000001"], kind
