"""Thin spark-submit main around the library API (SURVEY §3.2 shape:
`extract(df, cfg) -> (extracted, lineage)` as a library, CLI on top).

    spark-submit --py-files engine.zip llmap_spark/run_extract.py ...  # or:
    python -m llmap_spark.run_extract \
        --input  /path/to/pages_parquet_or_warc_dir \
        --output /path/to/output_root \
        [--input-format parquet|warc] [--export-wet /path/to/wet_dir] \
        [--repartition 0] [--n-salts 8] [--cores N]

Runs one snapshot commit (resuming past committed urls), prints a JSON
summary line. Safe to re-run: completed inputs are a no-op.
--input-format warc ingests crawl archives directly (sources/warc.py, one
task per archive); --export-wet additionally exports ALL committed
extracted text as WET conversion archives (the Common Crawl deliverable).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="pages parquet dir, or a WARC archive dir with "
                         "--input-format warc")
    ap.add_argument("--output", required=True, help="snapshot output root")
    ap.add_argument("--input-format", choices=("parquet", "warc"),
                    default="parquet")
    ap.add_argument("--export-wet", default=None, metavar="DIR",
                    help="after committing, export all committed extracted "
                         "text as WET archives into DIR")
    ap.add_argument("--repartition", type=int, default=0,
                    help="explicit salted url-hash repartition; 0 = map-only")
    ap.add_argument("--n-salts", type=int, default=8)
    ap.add_argument("--cores", type=int, default=None,
                    help="local mode cores (ignored under a real master; "
                         "default: SPARK_GRAFT_CPUS, else the cores this "
                         "process may run on)")
    ap.add_argument("--compact", nargs="?", const=0, default=None, type=int,
                    metavar="N_FILES",
                    help="after committing, rewrite all live snapshots into "
                         "one (optionally repartitioned to N_FILES) — the "
                         "store-maintenance pass for long incremental runs")
    args = ap.parse_args(argv)

    from pyspark import SparkConf
    from pyspark.sql import SparkSession

    from llmap_spark.plans.pipeline import ExtractConfig
    from llmap_spark.sources.snapshot import run_extract_job

    if SparkConf().contains("spark.master"):
        # launched via spark-submit: NEVER override --master (a fresh
        # spark-submit driver has no active session yet, so detecting the
        # launcher via getActiveSession() is wrong — the conf check isn't)
        spark = SparkSession.builder.appName("llmap-extract").getOrCreate()
        # UTC pin, same as get_spark: WARC dates parse with a
        # literal 'Z', so a cluster-local timezone would shift
        # every crawl timestamp
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    else:
        from llmap_spark.session import (get_spark, local_defaults,
                                         scan_conf_for)

        cores = args.cores or local_defaults().cores
        spark = get_spark(app_name="llmap-extract",
                          cores=cores,
                          extra_conf=scan_conf_for(args.input, cores))

    cfg = ExtractConfig(repartition=args.repartition, n_salts=args.n_salts)
    if args.input_format == "warc":
        from pyspark.sql import functions as F

        from llmap_spark.sources.warc import read_warc

        # archives carry no lang column; the pipeline schema wants one
        pages = read_warc(spark, args.input).withColumn(
            "lang", F.lit(None).cast("string"))
    else:
        pages = spark.read.parquet(args.input)
    snap = run_extract_job(spark, pages, args.output, cfg)
    summary: dict = (
        {"status": "up-to-date", "new_rows": 0} if snap is None else
        {"status": "committed", "snapshot_id": snap.snapshot_id,
         "new_rows": snap.n_rows, "data_path": snap.data_path,
         "lineage_path": snap.lineage_path,
         "kernel_version": snap.kernel_version})
    if args.compact is not None:
        from llmap_spark.sources.snapshot import compact_snapshots

        c = compact_snapshots(spark, args.output,
                              repartition=args.compact or None)
        summary["compacted"] = (
            None if c is None else
            {"snapshot_id": c.snapshot_id, "n_rows": c.n_rows})
    if args.export_wet:
        from llmap_spark.sources.snapshot import read_extracted
        from llmap_spark.sources.warc import write_wet

        committed = read_extracted(spark, args.output)
        summary["wet_archives"] = (
            0 if committed is None else write_wet(committed, args.export_wet))
        summary["wet_dir"] = args.export_wet
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
