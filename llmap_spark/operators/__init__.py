"""Large-scale training-data pipeline operators.

Beyond the extraction funnel, these are the operations a 100 TB web-text
training-data pipeline needs: deduplication, one operator per level the
curation chain runs (exact md5 and MinHash-LSH for whole documents, with
connected components over the LSH candidate pairs; paragraph dedup in
scrub), text analysis (language id, quality scoring, token counting, md5
fingerprinting) and scrubbing (paragraph dedup, decontamination, PII
redaction).

Design rules: built-in `pyspark.sql.functions` (JVM-side, codegen'd)
wherever the semantics allow; Arrow-batched pandas UDFs only for genuinely
numeric kernels (MinHash signatures); no
row-at-a-time Python UDFs, no collect()-driven loops.
"""
