"""Thin spark-submit main for the training-data curation chain
(plans/training.py: quality gate -> exact dedup -> MinHash LSH -> verify
-> connected components -> keep list).

    spark-submit --py-files engine.zip llmap_spark/run_curate.py ...  # or:
    python -m llmap_spark.run_curate \
        --input  /path/to/documents_parquet \
        --output /path/to/kept_parquet \
        [--verify-jaccard 0.5] [--cores N] \
        [--emit corpus --benchmark /path/to/benchmark_parquet]

Writes the kept (doc_id) list as parquet (or, with --emit corpus, the
scrubbed training-ready text: decontaminated, paragraph-deduped, PII-
redacted) and prints a JSON summary line.
Unlike extraction, global dedup is NOT incrementally resumable (a new doc
can demote a previously kept one), so this job is an overwrite, not a
snapshot append — re-running recomputes the keep list for the full input.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet")
    ap.add_argument("--output", required=True, help="kept-ids parquet dir")
    ap.add_argument("--verify-jaccard", type=float, default=0.5,
                    help="LSH signature-agreement verify threshold")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--cores", type=int, default=None,
                    help="local mode cores (ignored under a real master; "
                         "default: SPARK_GRAFT_CPUS, else the cores this "
                         "process may run on)")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="reliable checkpoint location (HDFS/S3/local dir); "
                         "when set, the component iteration uses cluster "
                         "checkpoints that survive executor loss instead of "
                         "localCheckpoint")
    ap.add_argument("--emit", choices=["kept", "corpus"], default="kept",
                    help="'kept' writes the keep-list ids; 'corpus' writes "
                         "the scrubbed training-ready text (keep-list -> "
                         "decontaminate -> paragraph dedup -> PII redact)")
    ap.add_argument("--benchmark", default=None,
                    help="held-out benchmark parquet (text column) for "
                         "decontamination; only used with --emit corpus")
    args = ap.parse_args(argv)

    from pyspark import SparkConf
    from pyspark.sql import SparkSession

    from llmap_spark.plans.training import kept_documents

    if SparkConf().contains("spark.master"):
        spark = SparkSession.builder.appName("llmap-curate").getOrCreate()
        # UTC pin, same as get_spark: WARC dates parse with a
        # literal 'Z', so a cluster-local timezone would shift
        # every crawl timestamp
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    else:
        from llmap_spark.session import (get_spark, local_defaults,
                                         scan_conf_for)

        cores = args.cores or local_defaults().cores
        spark = get_spark(app_name="llmap-curate", cores=cores,
                          extra_conf=scan_conf_for(args.input, cores))

    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    if args.emit == "corpus":
        from llmap_spark.plans.training import curated_corpus

        bench = (spark.read.parquet(args.benchmark)
                 if args.benchmark else None)
        out = curated_corpus(docs, benchmark=bench,
                             id_col=args.id_col,
                             text_col=args.text_col,
                             verify_jaccard=args.verify_jaccard,
                             cc_checkpoint_dir=args.checkpoint_dir)
    else:
        out = kept_documents(docs, id_col=args.id_col,
                             text_col=args.text_col,
                             verify_jaccard=args.verify_jaccard,
                             cc_checkpoint_dir=args.checkpoint_dir)
    out.write.mode("overwrite").parquet(args.output)
    n_kept = spark.read.parquet(args.output).count()
    print(json.dumps({
        "status": "written", "input_rows": n_in, "kept_rows": n_kept,
        "dropped_rows": n_in - n_kept, "output": args.output,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
