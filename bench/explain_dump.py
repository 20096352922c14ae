"""Dump .explain('formatted') for the bench-visible query plans to
plans/<tag>/<name>_<suffix>.txt (judge evidence for plan-shape claims).

Usage: python bench/explain_dump.py <tag> <suffix>   # e.g. r06 before
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(tag: str, suffix: str) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from llmap_spark.corpus import pages_path_for
    from llmap_spark.session import (ensure_parallelism, get_spark,
                                     local_defaults, scan_conf_for)

    cpus = local_defaults().cores

    pages_path = pages_path_for(sf_dir)
    spark = get_spark(app_name="llmap-explain", cores=cpus,
                      extra_conf={**scan_conf_for(pages_path, cpus),
                                  "spark.sql.execution.arrow.maxRecordsPerBatch": "1024"})
    from pyspark.sql import functions as F

    from llmap_spark.operators.dedup import exact_dedup, minhash_lsh_candidates
    from llmap_spark.operators.scrub import dedup_paragraphs, redact_pii
    from llmap_spark.operators.textstats import (fingerprint, lang_id,
                                                 quality_features)
    from llmap_spark.operators.langid import lang_id2 as lang_id2_op
    from llmap_spark.plans.pipeline import ExtractConfig, extract
    from llmap_spark.plans.training import curated_corpus, kept_documents
    import __spark_entry__ as entry

    pages = spark.read.parquet(pages_path)
    docs = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))

    plans = {
        "extract_write": lambda: extract(pages, ExtractConfig()),
        "extract_salted_shuffle": lambda: extract(pages, ExtractConfig(repartition=2 * cpus)),
        "textstats": lambda: fingerprint(quality_features(lang_id(docs))),
        "scrub": lambda: redact_pii(
            dedup_paragraphs(docs).withColumnRenamed("text_clean", "text")),
        "dedup_exact": lambda: exact_dedup(docs),
        # lazy variant: the materialized one executes eagerly on explain
        "dedup_minhash_lsh": lambda: minhash_lsh_candidates(docs),
        "windowed_events": lambda: entry._q_windowed_events(spark, sf_dir),
        "topk_per_user": lambda: entry._q_topk_per_user(spark, sf_dir),
        "pipeline_kept_docs": lambda: kept_documents(docs),
        "lang_id2": lambda: lang_id2_op(docs),
        "curated_scrub_tail": lambda: _curated_tail(docs),
    }

    def _curated_tail(d):
        # the scrub tail of curated_corpus in isolation (kept chain's plans
        # are covered by pipeline_kept_docs): decontaminate -> para dedup
        # -> redact over a plain frame
        from llmap_spark.operators.scrub import decontaminate
        bench = d.filter(F.col("doc_id") % 97 == 0).select("text")
        dirty = (decontaminate(d, bench).filter(F.col("contaminated") == 1)
                 .select("doc_id"))
        out = d.join(dirty, "doc_id", "left_anti")
        out = dedup_paragraphs(out).withColumnRenamed("text_clean", "text")
        return redact_pii(out)

    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name, fn in plans.items():
        try:
            df = fn()
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001
            txt = f"explain failed: {e}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}_{suffix}.txt ({len(txt)} bytes)", flush=True)
    from llmap_spark.cache import release_persisted
    release_persisted()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
