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


def test_arrow_conversion_errors_raise(spark):
    """A pandas frame that Arrow cannot convert to the declared schema
    raises instead of silently taking the row-by-row Python path."""
    import pandas as pd
    from pyspark.errors import PySparkTypeError

    ids = pd.DataFrame({"id": pd.Series([1, 2], dtype="int64")})
    with pytest.raises(PySparkTypeError, match="int64"):
        spark.createDataFrame(ids, "id string")


# case -> (files, rows per file, hive partition dirs, cores, scan partitions
# Spark plans): ~100 KB files pack into one split per core while there are
# enough of them, one per file below that; a 6 MB file splits by bytes
SCAN_SPLITS = {
    "24_files_4_cores": (24, 100, (), 4, 4),
    "24_files_8_cores": (24, 100, (), 8, 8),
    "8_files_4_cores": (8, 100, (), 4, 4),
    "3_files_4_cores": (3, 100, (), 4, 3),
    "1_file_4_cores": (1, 100, (), 4, 1),
    "partitioned_8_files_4_cores": (8, 100, ("lang=en", "lang=de"), 4, 4),
    "one_6mb_file_4_cores": (1, 6000, (), 4, 4),
}


@pytest.mark.parametrize("case", SCAN_SPLITS)
def test_scan_conf_for_plans_one_wave(spark, tmp_path, case):
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    n_files, rows, dirs, cores, want = SCAN_SPLITS[case]
    rng = random.Random(0)
    for i in range(n_files):
        d = tmp_path / (dirs[i % len(dirs)] if dirs else "")
        d.mkdir(exist_ok=True)
        text = [rng.randbytes(500).hex() for _ in range(rows)]  # 1 KB a row
        pq.write_table(pa.table({"id": range(rows), "text": text}),
                       d / f"part-{i:05d}.parquet", compression="none",
                       row_group_size=500)
    conf = session.scan_conf_for(str(tmp_path), cores)
    before = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        scan = spark.read.schema("id long, text string").parquet(str(tmp_path))
        assert scan.rdd.getNumPartitions() == want
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
