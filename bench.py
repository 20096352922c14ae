"""Per-round benchmark harness.

Runs the headline pipelines at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "pages_per_sec": ...,
   "extracted_mb_per_sec": ...}

SPARK_GRAFT_CPUS defaults to the cores this process may run on.

Every timed query is materialized with the noop sink (full computation of
every column, no disk variance); the flagship extraction is ALSO timed with
a real parquet write (extract_write) since the contract metric is
end-to-end. Corpus generation is excluded from timings (cached generator).

Scaling evidence (N vs 4N, BASELINE.md gate) lives in bench/scaling.py —
it launches separate spark-submit processes per parallelism level.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from llmap_spark.corpus import pages_path_for
    from llmap_spark.session import get_spark, local_defaults, scan_conf_for

    cpus = local_defaults().cores

    pages_path = pages_path_for(sf_dir)  # cached; generation not timed

    spark = get_spark(app_name="llmap-bench", cores=cpus,
                      extra_conf={**scan_conf_for(pages_path, cpus),
                                  "spark.sql.execution.arrow.maxRecordsPerBatch": "1024"})
    from pyspark.sql import functions as F

    from llmap_spark.operators.dedup import (exact_dedup,
                                             minhash_lsh_candidates)
    from llmap_spark.operators.scrub import dedup_paragraphs, redact_pii
    from llmap_spark.operators.textstats import (fingerprint,
                                                 quality_features)
    from llmap_spark.plans.pipeline import ExtractConfig, extract
    from llmap_spark.plans.training import curated_corpus
    import __spark_entry__ as entry

    from llmap_spark.session import ensure_parallelism

    pages = spark.read.parquet(pages_path)
    # documents is a single-file table at bench scale: widen once so
    # pure-map jobs (textstats, scrub) don't run on one core — UDF
    # operators guard themselves, JVM map-only chains can't
    docs = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))

    n_pages = pages.count()
    html_bytes = pages.agg(F.sum(F.length("html"))).collect()[0][0] or 0

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out_tmp = tempfile.mkdtemp(prefix="llmap_bench_")

    def parquet_write(df):
        df.write.mode("overwrite").parquet(f"{out_tmp}/extracted")

    jobs = [
        # flagship: production config (fused kernel, map-only — source
        # splits already saturate the cluster), real parquet write
        ("extract_write", lambda: parquet_write(extract(pages, ExtractConfig()))),
        # the mandated explicit salted url-hash repartition variant
        ("extract_salted_shuffle", lambda: noop(extract(pages, ExtractConfig(
            repartition=2 * cpus)))),
        ("textstats", lambda: noop(
            fingerprint(quality_features(docs)))),
        # corpus scrubbing deliverable shape (paragraph dedup -> redact)
        ("scrub", lambda: noop(redact_pii(
            dedup_paragraphs(docs).withColumnRenamed("text_clean", "text")))),
        ("dedup_exact", lambda: noop(exact_dedup(docs))),
        # materialize=True: the lazy default would leave the signature
        # cache persisted for the rest of the bench session
        ("dedup_minhash_lsh", lambda: noop(
            minhash_lsh_candidates(docs, materialize=True))),
        # the composed curation chain (quality -> dedup -> LSH -> CC)
        ("pipeline_kept_docs", lambda: noop(
            entry._q_pipeline_kept_docs(spark, sf_dir))),
        # the ACTUAL deliverable: keep-list -> decontaminate -> paragraph
        # dedup -> PII redact (r4 verdict item 6 — its cost is now
        # visible round-over-round, not just the keep-list's)
        ("pipeline_curated", lambda: noop(curated_corpus(
            docs, benchmark=docs.filter(F.col("doc_id") % 97 == 0)
            .select("text")))),
    ]

    # warmup (untimed): python workers + codegen + shuffle spin-up, so the
    # reported numbers are steady-state throughput
    extract(pages.limit(2000), ExtractConfig(repartition=8)) \
        .write.format("noop").mode("overwrite").save()

    # best-of-N reps per job: this box is a shared VM with steal time
    # observed up to 20% (pure-JVM jobs vary 5x run-to-run); the minimum
    # is the least-interfered measurement (same methodology as
    # bench/scaling.py). Override with LLMAP_BENCH_REPS=1 for a quick pass.
    reps = int(os.environ.get("LLMAP_BENCH_REPS", "2"))
    timings: dict[str, float] = {}
    for name, fn in jobs:
        best = None
        for _ in range(reps):
            t0 = time.time()
            fn()
            el = time.time() - t0
            best = el if best is None else min(best, el)
        timings[name] = round(best, 3)

    # throughput from the real-write flagship run
    ex_sec = timings["extract_write"]
    extracted_bytes = (
        spark.read.parquet(f"{out_tmp}/extracted")
        .agg(F.sum(F.length("extracted_text"))).collect()[0][0] or 0)
    shutil.rmtree(out_tmp, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "end-to-end main-content extraction + training-data ops",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "n_pages": n_pages,
        "pages_per_sec": round(n_pages / ex_sec, 1) if ex_sec else None,
        "input_mb_per_sec": round(html_bytes / 1e6 / ex_sec, 1) if ex_sec else None,
        "extracted_mb_per_sec": round(extracted_bytes / 1e6 / ex_sec, 2) if ex_sec else None,
        "cpus": cpus,
    }
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
