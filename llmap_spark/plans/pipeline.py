"""The extraction pipeline plan: coarse-first funnel, explicit physical layout.

Target lifecycle (SURVEY.md §3.4), mirroring the reference's 3-phase funnel
(reference llmap.py:139-229) with LLM calls replaced by deterministic kernels:

    read pages
      -> salted url-hash repartition               [explicit shuffle, §4.3]
      -> one mapInArrow: coarse (html -> blocks + candidate features), the
         funnel gate (pages with zero candidate blocks skip refine,
         coarse-first / refine-on-survivors, llmap.py:139-174), refine
         (classify + stitch) — kernel.extract_page per row

One page stays one row end-to-end and the plan is a SINGLE linear chain:
one source scan, one Python stage, zero shuffles unless the explicit
repartition is requested. An earlier draft expressed the funnel as a
DataFrame-level split (filter >0 / filter ==0 / unionByName, the literal
shape of llmap.py:173-174) — `.explain` showed Spark recomputing stage 1
and rescanning the source once per branch, which doubles the most expensive
work at 100 TB. The per-row gate inside the kernel keeps the funnel
*semantics* (gated pages pay no refine work) without the recomputation;
this is the Spark-first restatement, not a port.

Scale notes (local[32] is the harness; design targets 1000 executors):
  * no collect(), no driver-side loops — the driver never sees page data
  * Arrow batches capped (session.py) so 1 MB html blobs can't blow up a
    Python worker even at 256 rows/batch
  * empty/malformed pages flow through the same total kernel (status
    columns, never exceptions), so there are no extra branches to scan
  * salting is physical-only: proven result-identical in tests
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from llmap_spark.functions import extract_udfs as U
from llmap_spark.kernel import KERNEL_VERSION

# Hosts known to be hot (Zipf head). At 10^12 rows this list would come from
# a tiny pre-aggregated host-frequency table (broadcast); in the sandbox the
# corpus generator's hot hosts are a config default.
DEFAULT_HOT_HOSTS = (
    "news.example.com", "blog.example.org", "portal.example.net",
)


@dataclass(frozen=True)
class ExtractConfig:
    """Physical layout only: no field changes the extracted rows."""

    repartition: int = 0          # 0 = trust source splits (no shuffle)
    n_salts: int = 8              # salt buckets for hot hosts
    hot_hosts: tuple[str, ...] = field(default=DEFAULT_HOT_HOSTS)


OUTPUT_COLUMNS = [
    "url", "warc_ts", "lang", "extracted_text", "spans",
    "n_blocks_kept", "n_blocks_total", "status",
]
OPS_COLUMNS = ["partition_id", "salt_bucket", "bytes_in", "bytes_out"]


def _with_salt(df: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """salt_bucket: pmod(xxhash64(url,'salt'), n_salts) for hot hosts, else 0.

    Explicit-skew mandate (BASELINE.json north_rule). url is unique so a
    plain url-hash already spreads rows; the salt demonstrably cannot change
    results (per-row map) — tests prove output identity with/without it.
    """
    # reuse links.host_of (case-insensitive scheme, slash-optional, host
    # stops at /?#): the previous inline regex required a trailing slash
    # and lowercase scheme, so slash-less or 'HTTP://' fetches on hot hosts
    # silently fell out of the skew guard — exactly the rows it exists for
    from llmap_spark.operators.links import host_of
    host = host_of(F.col("url"))
    salt = F.when(
        host.isin(*cfg.hot_hosts),
        F.pmod(F.xxhash64("url", F.lit("salt")), F.lit(cfg.n_salts)).cast("int"),
    ).otherwise(F.lit(0))
    return df.withColumn("salt_bucket", salt)


def prepared_pages(pages: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """Salt + explicit physical layout + Arrow-boundary projection.

    No row filter: the kernel is total (empty/null html becomes
    status='empty'), so every input row takes the same single-pass plan —
    branching here would force a second source scan (see module docstring).
    """
    df = _with_salt(pages, cfg)
    if cfg.repartition > 0:
        df = df.repartition(cfg.repartition, F.xxhash64("url"), F.col("salt_bucket"))
    # project before the UDF: never ship the unused raw `text` column
    # across the Arrow boundary (column pruning is free JVM-side)
    return df.select("url", "warc_ts", "html", "lang", "salt_bucket")


def extract(pages: DataFrame, cfg: ExtractConfig = ExtractConfig()) -> DataFrame:
    """pages DataFrame -> extracted DataFrame (contract columns + ops cols).

    Pure transform: no actions, no writes; composes with resume/sink layers.
    """
    # mapInArrow: no pandas materialization, passthrough columns are
    # zero-copy (extract_udfs.extract_fused_arrow)
    ex = prepared_pages(pages, cfg).mapInArrow(
        U.extract_fused_arrow, schema=U.FUSED_SCHEMA + ", salt_bucket int")
    ex = ex.withColumn("partition_id", F.spark_partition_id()) \
           .withColumn("bytes_out",
                       F.octet_length("extracted_text").cast("long"))
    return ex.select(*OUTPUT_COLUMNS, *OPS_COLUMNS)


def lineage_from(extracted: DataFrame, snapshot_id: int,
                 started_at, finished_at) -> DataFrame:
    """Per-partition lineage rows (FIXTURES.md §4), derived from the
    extracted rows' ops columns so they are exactly consistent with the
    committed data (stable under resume by construction).

    task_attempt is 0: kernels are pure, so retried attempts are
    indistinguishable in output (reference analogue: retry idempotence via
    memoization, client.py:100-151 — ours is idempotent by determinism).
    """
    return (
        extracted.groupBy("partition_id", "salt_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("status").isin("ok", "no_body", "truncated",
                                              "decode_replaced"), 1)
                  .otherwise(0)).cast("long").alias("n_ok"),
            F.sum(F.when(F.col("status").isin("parse_error"), 1)
                  .otherwise(0)).cast("long").alias("n_err"),
            # 'empty' is a successful, total outcome but NOT ok (nothing
            # was extracted) and NOT an error; counting it separately
            # makes the partition total exact: n_ok + n_err + n_empty ==
            # n_rows (pinned by test_ops_columns_and_lineage_consistency
            # — consumers summing n_ok + n_err alone under-reported on
            # corpora with empty pages)
            F.sum(F.when(F.col("status") == "empty", 1)
                  .otherwise(0)).cast("long").alias("n_empty"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
        )
        .withColumn("task_attempt", F.lit(0))
        .withColumn("started_at", F.lit(started_at).cast("timestamp"))
        .withColumn("finished_at", F.lit(finished_at).cast("timestamp"))
        .withColumn("snapshot_id", F.lit(snapshot_id).cast("long"))
        .withColumn("kernel_version", F.lit(KERNEL_VERSION))
    )
