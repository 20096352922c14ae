"""Iceberg-style snapshot commit layer over Parquet, with anti-join resume.

No Iceberg runtime jars exist in this sandbox (SURVEY §4.3), so this module
implements the same *contract* with plain Parquet + an atomic JSON manifest:

  out_root/
    data/snap-000001/        parquet written by Spark (extracted rows)
    lineage/snap-000001/     parquet lineage rows for that snapshot
    _snapshots/snapshot-000001.json   manifest — ATOMIC rename commit

A snapshot exists iff its manifest file exists; data/lineage directories
without a manifest are uncommitted garbage and are ignored by readers, which
is what makes kill-at-any-point safe (single-writer rename atomicity).

An extraction commit is the data write plus one query: the written files,
read back with the schema the write used (no inference job), aggregate
into the lineage rows (one per partition x salt), which come to the driver
through Arrow and are written as the lineage parquet from there.

This replaces the reference's SQLite response cache as the resume mechanism
(reference cache.py:55-89): the transform is deterministic, so committed
output *is* the memo — resume = anti-join input urls against committed urls
(reference analogue: cache hit check, client.py:88-98).

On a real cluster the Reader/Writer pair swaps for an Iceberg catalog via
--packages; the pipeline code above this interface does not change.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from llmap_spark.kernel import KERNEL_VERSION
from llmap_spark.plans.pipeline import ExtractConfig, extract, lineage_from

MANIFEST_DIR = "_snapshots"


@dataclass
class Snapshot:
    snapshot_id: int
    data_path: str
    lineage_path: str
    n_rows: int
    kernel_version: str
    parent_id: int | None


def _snap_paths(out_root: str, snapshot_id: int) -> tuple[str, str, Path]:
    """The data and lineage directories of a snapshot, and the manifests'."""
    root, name = Path(out_root), f"snap-{snapshot_id:06d}"
    return str(root / "data" / name), str(root / "lineage" / name), \
        root / MANIFEST_DIR


def _refuse_other_kernels(snaps: list[Snapshot], out_root: str) -> None:
    """One table holds one kernel's extraction semantics per row."""
    stale = [s.snapshot_id for s in snaps if s.kernel_version != KERNEL_VERSION]
    if stale:
        raise ValueError(
            f"snapshots {stale} in {out_root} were committed with a different "
            f"kernel_version (current {KERNEL_VERSION}); a table must not mix "
            "extraction semantics per row: use a fresh out_root, or rebuild.")


def committed_snapshots(out_root: str) -> list[Snapshot]:
    """All LIVE committed snapshots, ascending id. Ignores uncommitted
    dirs, and ignores snapshots RETIRED by a later compaction manifest's
    "replaces" list — the instant a compaction manifest renames into
    place, readers and resume must count the merged snapshot instead of
    its sources (whose files may be deleted at any point after)."""
    mdir = Path(out_root) / MANIFEST_DIR
    if not mdir.is_dir():
        return []
    raw = []
    replaced: set[int] = set()
    for f in mdir.glob("snapshot-*.json"):
        m = json.loads(f.read_text())
        replaced.update(m.get("replaces", []))
        raw.append(Snapshot(
            snapshot_id=m["snapshot_id"], data_path=m["data_path"],
            lineage_path=m["lineage_path"], n_rows=m["n_rows"],
            kernel_version=m["kernel_version"], parent_id=m.get("parent_id"),
        ))
    snaps = [s for s in raw if s.snapshot_id not in replaced]
    # sort by PARSED id, not filename: lexicographic order breaks past the
    # zero-pad width ('snapshot-1000000' < 'snapshot-999999'), which would
    # make next_id reuse a live id and overwrite committed data
    snaps.sort(key=lambda s: s.snapshot_id)
    return snaps


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame | None:
    """Union of all committed snapshots' data. None if no commits yet."""
    snaps = committed_snapshots(out_root)
    if not snaps:
        return None
    return spark.read.parquet(*[s.data_path for s in snaps])


def read_lineage(spark: SparkSession, out_root: str) -> DataFrame | None:
    snaps = committed_snapshots(out_root)
    if not snaps:
        return None
    return spark.read.parquet(*[s.lineage_path for s in snaps])


def run_extract_job(spark: SparkSession, pages: DataFrame, out_root: str,
                    cfg: ExtractConfig = ExtractConfig()) -> Snapshot | None:
    """Extract all not-yet-committed pages and commit one new snapshot.

    Resume semantics: input is anti-joined against committed urls, so a
    rerun after a crash (or a partial run via ``limit``) completes the
    remainder without recomputing or duplicating anything. Returns the new
    Snapshot, or None when everything is already committed.

    Scale: the anti-join's build side is just committed urls (one string
    column — column-pruned at scan). At 10^12 rows this is a shuffle-heavy
    sort-merge anti-join; that is the price of exactly-once resume and it
    only reads one column of the output table.
    """
    snaps = committed_snapshots(out_root)
    _refuse_other_kernels(snaps, out_root)

    done = read_extracted(spark, out_root)
    todo = pages if done is None else pages.join(
        done.select("url"), on="url", how="left_anti")
    next_id = (snaps[-1].snapshot_id + 1) if snaps else 1
    parent = snaps[-1].snapshot_id if snaps else None
    data_path, lin_path, mdir = _snap_paths(out_root, next_id)

    started = time.time()
    ex = extract(todo, cfg)
    ex.write.mode("overwrite").parquet(data_path)
    finished = time.time()

    # lineage is derived from the *written* files -> exactly consistent
    written = spark.read.schema(ex.schema).parquet(data_path)
    summary = lineage_from(
        written, snapshot_id=next_id,
        started_at=_ts(started), finished_at=_ts(finished)).toArrow()
    n_rows = sum(summary.column("n_rows").to_pylist())
    if n_rows == 0:
        return None  # nothing new; no empty snapshot
    shutil.rmtree(lin_path, ignore_errors=True)  # an uncommitted attempt's
    os.makedirs(lin_path)
    pq.write_table(summary, os.path.join(lin_path, "part-00000.parquet"),
                   compression="zstd")

    _publish(mdir, {
        "snapshot_id": next_id,
        "parent_id": parent,
        "data_path": data_path,
        "lineage_path": lin_path,
        "n_rows": n_rows,
        "kernel_version": KERNEL_VERSION,
        "config": {"repartition": cfg.repartition, "n_salts": cfg.n_salts,
                   "hot_hosts": list(cfg.hot_hosts)},
        "committed_at": _ts(finished),
    })
    return Snapshot(next_id, data_path, lin_path, n_rows, KERNEL_VERSION, parent)


def compact_snapshots(spark: SparkSession, out_root: str,
                      repartition: int | None = None,
                      clean: bool = True) -> Snapshot | None:
    """Rewrite ALL live snapshots into ONE and retire the originals — the
    lakehouse maintenance op a long-running store needs: every
    incremental commit adds a data directory, and both readers and the
    anti-join resume union/scan all of them, so a store with thousands of
    small commits pays thousands of scan roots per query.

    Kill-safe commit protocol (single-writer rename discipline, same as
    run_extract_job):

      1. write merged data + lineage under the NEXT snapshot id
         (uncommitted garbage until step 2 — readers ignore it);
      2. rename the new manifest into place; it carries
         "replaces": [source ids], and committed_snapshots() hides any
         snapshot a live manifest replaces — so this single atomic rename
         switches every reader from the sources to the merged snapshot;
      3. best-effort delete of EVERY retired manifest + dirs — the new
         sources and any earlier-retired orphans a crashed prior cleanup
         left behind (a crash here leaves garbage that step 2 already
         hid; pass clean=False to keep the sources for audit).

    The "replaces" list is TRANSITIVE: it carries the union of the
    sources' ids and everything their own manifests replaced. Without
    this, deleting a prior compaction's manifest (the only record hiding
    ITS sources) while crash-orphaned older manifests remain on disk
    would RESURRECT those snapshots and double-count their rows.

    Lineage rows are carried over VERBATIM (original snapshot_id values
    preserved) — compaction reorganizes files, not history; sum(n_rows)
    is invariant. Row content is invariant too (pinned by pytest).
    Mixed kernel_version stores are refused, the resume gate's rule.

    `repartition` controls the merged layout (e.g. pack thousands of
    small files into N); None keeps Spark's natural partitioning.
    Returns the new Snapshot, or None when fewer than two snapshots are
    live (nothing to compact)."""
    snaps = committed_snapshots(out_root)
    if len(snaps) < 2:
        return None
    _refuse_other_kernels(snaps, out_root)
    next_id = snaps[-1].snapshot_id + 1
    data_path, lin_path, mdir = _snap_paths(out_root, next_id)
    # raw manifest scan: the transitive replaced set (and the orphan
    # manifests' paths for cleanup) are not in the live Snapshot view
    raw_manifests = [json.loads(f.read_text())
                     for f in mdir.glob("snapshot-*.json")]
    prior_replaced: set[int] = set()
    for m in raw_manifests:
        prior_replaced.update(m.get("replaces", []))

    merged = spark.read.parquet(*[s.data_path for s in snaps])
    if repartition:
        merged = merged.repartition(repartition)
    merged.write.mode("overwrite").parquet(data_path)
    lineage = spark.read.parquet(*[s.lineage_path for s in snaps])
    lineage.write.mode("overwrite").parquet(lin_path)
    n_rows = sum(s.n_rows for s in snaps)

    _publish(mdir, {
        "snapshot_id": next_id,
        "parent_id": snaps[-1].snapshot_id,
        "data_path": data_path,
        "lineage_path": lin_path,
        "n_rows": n_rows,
        "kernel_version": KERNEL_VERSION,
        # transitive: sources + everything any manifest ever replaced
        "replaces": sorted({s.snapshot_id for s in snaps} | prior_replaced),
        "compaction": True,
        "committed_at": _ts(time.time()),
    })  # the switch
    if clean:
        # delete every RETIRED manifest/dir on disk, not just this pass's
        # sources: crash-orphaned manifests from an earlier interrupted
        # cleanup are retired too and must not outlive the record that
        # hides them
        retired = {s.snapshot_id for s in snaps} | prior_replaced
        by_id = {m["snapshot_id"]: m for m in raw_manifests}
        for sid in sorted(retired):
            m = by_id.get(sid)
            try:
                (mdir / f"snapshot-{sid:06d}.json").unlink(missing_ok=True)
                if m is not None:
                    shutil.rmtree(m["data_path"], ignore_errors=True)
                    shutil.rmtree(m["lineage_path"], ignore_errors=True)
            except Exception:
                pass  # hidden garbage; a later compaction can clean it
    return Snapshot(next_id, data_path, lin_path, n_rows,
                    KERNEL_VERSION, snaps[-1].snapshot_id)


def _publish(mdir: Path, manifest: dict) -> None:
    """Commit a snapshot: its manifest appears whole by an atomic rename."""
    name = f"snapshot-{manifest['snapshot_id']:06d}.json"
    mdir.mkdir(parents=True, exist_ok=True)
    tmp = mdir / f".{name}.tmp"
    tmp.write_text(json.dumps(manifest, indent=2))
    os.rename(tmp, mdir / name)


def _ts(unix_seconds: float) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(unix_seconds))
