"""Task-retry determinism driver for tests/test_faults.py.

    python tests/retry_driver.py <pages_parquet> <sf_dir> <work_dir>

Runs `run_extract_job` and `kept_documents` twice on `local[4,3]` (4
threads, up to 3 attempts per task): once clean, once with attempt 0 of
every even-numbered partition failing in the pages scan, the docs input
and the MinHash signature stage. Both runs build the same plans; only the
fault set differs. Prints one JSON line: per run, digests of the committed
rows and of the lineage rows (wall-clock columns dropped), the kept ids,
and the faults that fired.

The fault hook lives here, in test code: a passthrough over the input
frames and a wrapper around `dedup._shingle_hashes`. Both are defined in
this script, so Spark ships them to the workers by value.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow.parquet as pq
from pyspark import TaskContext


def fault_hook(fail_parts: frozenset[int], markers: str):
    """maybe_fail(where): raise in attempt 0 of the chosen partitions,
    leaving a marker file that shows the fault fired."""
    def maybe_fail(where: str) -> None:
        ctx = TaskContext.get()
        if ctx.attemptNumber() == 0 and ctx.partitionId() in fail_parts:
            open(os.path.join(markers, f"{where}-{ctx.stageId()}-"
                                       f"{ctx.partitionId()}"), "w").close()
            raise RuntimeError(f"injected fault: {where}")

    return maybe_fail


def flaky(df, where: str, maybe_fail):
    """Identity over df whose chosen tasks fail on their first attempt."""
    def passthrough(batches):
        maybe_fail(where)
        yield from batches

    return df.mapInArrow(passthrough, df.schema)


def _digest(table, drop=()) -> str:
    rows = sorted(repr(sorted(r.items()))
                  for r in table.drop_columns(list(drop)).to_pylist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def run(spark, pages_path: str, sf_dir: str, out: str, maybe_fail) -> dict:
    from llmap_spark.cache import release_persisted
    from llmap_spark.plans.pipeline import ExtractConfig
    from llmap_spark.plans.training import kept_documents
    from llmap_spark.sources import snapshot as snap

    import __spark_entry__ as entry

    pages = flaky(spark.read.parquet(pages_path), "pages", maybe_fail)
    s = snap.run_extract_job(spark, pages, out, ExtractConfig())
    # four hash partitions all the way to the signature stage, so the
    # retried even ones hold only part of each near-duplicate family
    docs = flaky(entry._planted_curation_docs(spark, sf_dir)
                 .repartition(4, "doc_id"), "docs", maybe_fail)
    kept = sorted(r.doc_id for r in kept_documents(docs).collect())
    release_persisted()
    return {
        "n_rows": s.n_rows,
        "data": _digest(pq.read_table(s.data_path)),
        "lineage": _digest(pq.read_table(s.lineage_path),
                           drop=("started_at", "finished_at")),
        "kept": kept,
    }


def main(pages_path: str, sf_dir: str, work: str) -> int:
    from llmap_spark.operators import dedup
    from llmap_spark.session import get_spark

    shingle_hashes = dedup._shingle_hashes
    spark = get_spark(app_name="retry-driver", cores=4, extra_conf={
        "spark.master": "local[4,3]",
        # keep every shuffle 8 partitions wide, so the even ones that fail
        # are a strict subset of the signature stage
        "spark.sql.adaptive.coalescePartitions.enabled": "false"})
    result = {}
    for mode, parts in (("clean", frozenset()),
                        ("faults", frozenset(range(0, 64, 2)))):
        markers = os.path.join(work, f"markers-{mode}")
        os.makedirs(markers)
        maybe_fail = fault_hook(parts, markers)

        def flaky_shingle_hashes(text, maybe_fail=maybe_fail):
            maybe_fail("signatures")
            return shingle_hashes(text)

        # the signature UDF is pickled with the module global it reads, so
        # the workers get this wrapper
        dedup._shingle_hashes = flaky_shingle_hashes
        result[mode] = run(spark, pages_path, sf_dir,
                           os.path.join(work, f"out-{mode}"), maybe_fail)
        result[mode]["fired"] = sorted(
            {m.split("-")[0] for m in os.listdir(markers)})
    spark.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
