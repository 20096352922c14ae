"""llmap_spark — a PySpark-native web main-content extraction engine.

A from-scratch reimagining of jbellis/llmap's two-stage extract-then-refine
funnel (reference at /root/reference, studied not ported), retargeted at
Common-Crawl-style web pages: deterministic DOM block scoring replaces LLM
relevance calls, so the whole pipeline is a pure partition-parallel map.

Layout:
  kernel.py      — deterministic extraction core (the semantics)
  oracle.py      — single-process reference runner + CLI
  corpus.py      — seeded synthetic pages-table generator
  session.py     — SparkSession builder with scale-tuned confs
  functions/     — the mapInArrow UDF around the kernel
  operators/     — curation chain (quality, exact + MinHash-LSH dedup,
                   scrub incl. paragraph dedup) + text ops
  sources/       — pages reader + Iceberg-style snapshot sink with resume
  plans/         — pipeline assembly (extract funnel) + lineage
  streaming/     — Structured Streaming variants
"""

from llmap_spark.kernel import KERNEL_VERSION

__version__ = "0.1.0"
__all__ = ["KERNEL_VERSION", "__version__"]
