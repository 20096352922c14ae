"""SparkSession builder with scale-appropriate defaults.

Local mode here is the test harness; the confs are chosen so the same plan
shape survives a 1000-executor cluster: AQE on (skew-join + partition
coalescing), Arrow batches sized so binary HTML columns keep Python workers
memory-bounded, UTC timezone pinned for oracle comparability.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import SparkSession

# HTML blobs are big: small Arrow batches bound per-batch worker memory
# (SURVEY §4.3 — "batches of ~64-256 rows").
ARROW_BATCH_ROWS = 256


def scan_conf_for(input_path: str, cores: int) -> dict:
    """Scan confs that split a file input into one wave of ``cores`` tasks.

    Spark sizes a split as ``min(maxPartitionBytes, max(openCostInBytes,
    total / minPartitionNum))``: with ``minPartitionNum = cores`` a small
    multi-file table packs into one split per core, a large one into
    ``get_spark``'s 128 MiB splits. More splits only add waves: as 6 splits
    on 4 cores, the 24-file benchmark crawl extracted 0.3-0.5 s slower
    than as 4. ``input_path`` is not read: Spark lists the file sizes.
    """
    return {
        "spark.sql.files.openCostInBytes": str(1 << 20),
        "spark.sql.files.minPartitionNum": str(cores),
    }


class LocalDefaults(NamedTuple):
    cores: int
    driver_memory: str  # a spark.driver.memory value


def local_defaults() -> LocalDefaults:
    """Local-mode sizing taken from the box this process runs on.

    ``cores``: ``SPARK_GRAFT_CPUS``, else the cores this process may run on
    (its affinity mask, which taskset and cgroup cpusets narrow).
    ``driver_memory``: ``LLMAP_DRIVER_MEM``, else half of physical RAM and
    at most 16g, so the driver heap never asks for more than the machine
    has.
    """
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    memory = os.environ.get("LLMAP_DRIVER_MEM")
    if not memory:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        memory = f"{min(16 << 10, ram_mb // 2)}m"
    return LocalDefaults(
        int(cores) if cores else len(os.sched_getaffinity(0)), memory)


def get_spark(app_name: str = "llmap_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    defaults = local_defaults()
    if cores is None:
        cores = defaults.cores
    if shuffle_partitions is None:
        shuffle_partitions = 2 * cores
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # a failed Arrow conversion raises, not silently takes the row path
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # zstd shuffle/spill/broadcast blocks, not Spark's lz4 default:
        # lz4 lost 5 of 6 alternating curate_corpus perfbench pairs on a
        # 4-core VM (median wall_s 1.12x). get_spark(extra_conf=...)
        # overrides it for an A/B.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", defaults.driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # getOrCreate returns any EXISTING session and silently ignores the
    # builder confs — re-apply the runtime-settable ones (spark.sql.*) so
    # a second get_spark() call in the same process still gets its scan
    # sizing and shuffle partitions; static confs (master, memory) can't
    # change on a live session and are skipped.
    runtime = {"spark.sql.shuffle.partitions": str(shuffle_partitions),
               **{k: str(v) for k, v in (extra_conf or {}).items()}}
    for k, v in runtime.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on an existing session
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_parallelism(df):
    """Small corpora often scan as ONE task (a sub-128MB parquet file is a
    single split), which would serialize every downstream Python UDF on
    one core. Repartition up to the cluster's default parallelism when the
    incoming plan has fewer partitions — a no-op for real multi-split
    corpora (partitions >= cores), so at 100 TB this adds nothing, while
    the sf0.1 documents table (one 0.6 MB file) goes from a 1-core
    signature pass to a full-width one. Call it on the SLIM projection
    feeding the UDF so the introduced exchange carries only (id, payload).

    Shuffle-bearing plans (joins/aggregates/windows/...) are returned
    UNTOUCHED, for two reasons: their output is already
    shuffle.partitions wide, and — the sharp edge — probing
    .rdd.getNumPartitions() under AQE EXECUTES every upstream query
    stage just to learn the count, whose results the fresh repartitioned
    plan would then throw away and recompute. The probe is only free on
    exchange-less plans (scan + project/filter/generate), which is
    exactly where the single-split problem lives.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Positive exchange test on the PHYSICAL plan (planning is lazy — this
    # executes nothing): any Exchange (shuffle or broadcast) means the
    # probe below would eagerly run upstream stages under AQE, and the
    # output is already shuffle.partitions wide anyway. A keyword
    # denylist over logical nodes missed grouped-map shapes
    # (FlatMapGroupsInPandas et al.) and false-matched user identifiers.
    #
    # The probe uses the PRIVATE _jdf handle (no public API exposes the
    # physical plan without executing); if a Spark upgrade moves it, fail
    # SAFE — return the frame unchanged rather than risk the eager-AQE
    # partition probe on a shuffle-bearing plan. The probe's continued
    # validity on the running Spark version is pinned by
    # tests/test_plans.py::test_ensure_parallelism_probe_detects_exchange.
    try:
        phys = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return df
    if "Exchange" in phys:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
