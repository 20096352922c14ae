"""Stage-isolation benchmarks (guide §1.4 noop-sink methodology).

NOT the contract bench — bench.py is frozen for driver measurement. This
file exists to attribute seconds inside the composed chains (kept_docs,
curated, LSH, extraction) to individual stages, and to
A/B candidate optimizations, with the same session config bench.py uses.

Usage:
    python bench_extra.py                 # all groups, best-of-2
    python bench_extra.py lsh curated     # named groups only
    LLMAP_BENCH_REPS=1 python bench_extra.py quick

Prints one JSON line per timed item: {"name":..., "secs":[...], "best":...}.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(groups: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("LLMAP_BENCH_REPS", "2"))

    from llmap_spark.corpus import pages_path_for
    from llmap_spark.session import (ensure_parallelism, get_spark,
                                     local_defaults, scan_conf_for)

    cpus = local_defaults().cores

    pages_path = pages_path_for(sf_dir)
    spark = get_spark(app_name="llmap-bench-extra", cores=cpus,
                      extra_conf={**scan_conf_for(pages_path, cpus),
                                  "spark.sql.execution.arrow.maxRecordsPerBatch": "1024"})
    from pyspark.sql import functions as F

    pages = spark.read.parquet(pages_path)
    docs = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    results = []

    def timed(name, fn):
        spark.sparkContext.setJobDescription(name)
        secs = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            secs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        row = {"name": name, "secs": secs, "best": min(secs)}
        results.append(row)
        print(json.dumps(row), flush=True)

    from llmap_spark.cache import release_persisted

    want = (lambda g: not groups or g in groups)

    # ---- warmup: spin up python workers + codegen
    from llmap_spark.plans.pipeline import ExtractConfig, extract
    extract(pages.limit(2000), ExtractConfig(repartition=8)) \
        .write.format("noop").mode("overwrite").save()

    if want("extract"):
        timed("extract_fused_noop", lambda: noop(extract(pages, ExtractConfig())))
        timed("extract_salted_noop", lambda: noop(extract(pages, ExtractConfig(repartition=2 * cpus))))
        # scan+decode only: how much is the source scan worth?
        timed("pages_scan_only", lambda: noop(pages.select("url", "warc_ts", "html", "lang")))

    if want("textstats"):
        from llmap_spark.operators.textstats import (fingerprint, lang_id,
                                                     quality_features)
        timed("docs_scan_only", lambda: noop(docs))
        timed("quality_only", lambda: noop(quality_features(docs)))
        timed("textstats_full", lambda: noop(fingerprint(quality_features(lang_id(docs)))))

    if want("scrub"):
        from llmap_spark.operators.scrub import dedup_paragraphs, redact_pii
        timed("redact_only", lambda: noop(redact_pii(docs)))
        timed("para_dedup_only", lambda: noop(dedup_paragraphs(docs)))
        timed("scrub_full", lambda: noop(redact_pii(
            dedup_paragraphs(docs).withColumnRenamed("text_clean", "text"))))

    if want("dedup"):
        from llmap_spark.operators.dedup import (exact_dedup,
                                                 minhash_lsh_candidates)
        timed("exact_dedup", lambda: noop(exact_dedup(docs)))
        timed("lsh_lazy_noop", lambda: (noop(minhash_lsh_candidates(docs)),
                                        release_persisted()))
        timed("lsh_materialized", lambda: noop(
            minhash_lsh_candidates(docs, materialize=True)))

    if want("kept"):
        from llmap_spark.plans.training import kept_documents
        from llmap_spark.operators.dedup import (exact_dedup,
                                                 minhash_lsh_candidates,
                                                 connected_components)
        from llmap_spark.operators.textstats import quality_features

        def kept_stages():
            q = quality_features(docs).filter(F.col("q_keep"))
            reps_df = exact_dedup(q).filter(~F.col("is_dup")) \
                .select("doc_id", "text").persist()
            t0 = time.time()
            reps_df.count()
            t1 = time.time()
            cand = minhash_lsh_candidates(reps_df, materialize=True)
            t2 = time.time()
            verified = cand.filter(F.col("est_jaccard") >= 0.5)
            comp = connected_components(verified)
            t3 = time.time()
            losers = (comp.filter(F.col("node") != F.col("component"))
                      .select(F.col("node").alias("doc_id")))
            noop(reps_df.join(losers, "doc_id", "left_anti").select("doc_id"))
            t4 = time.time()
            reps_df.unpersist()
            print(json.dumps({"name": "kept_stage_breakdown",
                              "reps_materialize": round(t1 - t0, 3),
                              "lsh_materialize": round(t2 - t1, 3),
                              "components": round(t3 - t2, 3),
                              "final_antijoin_noop": round(t4 - t3, 3)}),
                  flush=True)

        kept_stages()
        timed("kept_full", lambda: noop(kept_documents(docs)))

    if want("curated"):
        from llmap_spark.plans.training import curated_corpus
        timed("curated_full", lambda: noop(curated_corpus(
            docs, benchmark=docs.filter(F.col("doc_id") % 97 == 0)
            .select("text"))))

    if want("events"):
        import __spark_entry__ as entry
        timed("windowed_events", lambda: noop(entry._q_windowed_events(spark, sf_dir)))
        timed("topk_per_user", lambda: noop(entry._q_topk_per_user(spark, sf_dir)))

    if want("langid"):
        from llmap_spark.operators.langid import lang_id2
        timed("lang_id2", lambda: noop(lang_id2(docs)))

    print(json.dumps({"total_best": round(sum(r["best"] for r in results), 3)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
