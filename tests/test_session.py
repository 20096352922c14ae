"""Local-mode defaults sized from the box (session.local_defaults)."""

from __future__ import annotations

import os

import pytest

from llmap_spark import session


@pytest.fixture()
def unset_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("LLMAP_DRIVER_MEM", raising=False)
    return monkeypatch


def _fake_ram(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (gib << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_cores_follow_the_affinity_mask(unset_env):
    assert session.local_defaults().cores == len(os.sched_getaffinity(0))
    unset_env.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 5})
    assert session.local_defaults().cores == 3


def test_driver_memory_stays_below_physical_ram(unset_env):
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    memory = session.local_defaults().driver_memory
    assert memory.endswith("m") and 0 < int(memory[:-1]) < ram_mb
    _fake_ram(unset_env, 4)
    assert session.local_defaults().driver_memory == "2048m"
    _fake_ram(unset_env, 256)  # capped at the former 16g default
    assert session.local_defaults().driver_memory == "16384m"


def test_environment_overrides_the_box(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("LLMAP_DRIVER_MEM", "5g")
    assert session.local_defaults() == (32, "5g")


MIB = 1 << 20
# case -> (input bytes, cores, expected maxPartitionBytes): the per-split
# target is total // (3 * cores), clamped to [4 MiB, 128 MiB]
SCAN_CONF = {
    "floor": (6 * MIB, 1, 4 * MIB),
    "middle": (60 * MIB, 2, 10 * MIB),
    "cap": (1536 * MIB, 1, 128 * MIB),
}


def _sparse(path, size: int) -> None:
    with open(path, "wb") as f:
        f.truncate(size)  # a hole: st_size without the disk blocks


@pytest.mark.parametrize("case", SCAN_CONF)
@pytest.mark.parametrize("layout", ["file", "directory"])
def test_scan_conf_for_clamps_split_size(tmp_path, layout, case):
    total, cores, want = SCAN_CONF[case]
    if layout == "file":
        path = tmp_path / "pages.parquet"
        _sparse(path, total)
    else:
        # a partitioned table: every file under the root counts, at any depth
        path = tmp_path / "pages"
        (path / "lang=en").mkdir(parents=True)
        _sparse(path / "part-0.parquet", total // 3)
        _sparse(path / "lang=en" / "part-1.parquet", total - total // 3)
    conf = session.scan_conf_for(str(path), cores)
    assert conf == {"spark.sql.files.maxPartitionBytes": str(want),
                    "spark.sql.files.openCostInBytes": str(MIB)}
