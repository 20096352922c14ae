"""Large-scale training-data pipeline operators.

Beyond the extraction funnel, these are the operations a 100 TB web-text
training-data pipeline needs: deduplication (exact, MinHash+LSH near-dup
and connected components over its candidate pairs), text analysis
(language id, quality scoring, token counting, fingerprinting), scrubbing
(paragraph dedup, decontamination, PII redaction) and bin-packing.

Design rules: built-in `pyspark.sql.functions` (JVM-side, codegen'd)
wherever the semantics allow; Arrow-batched pandas UDFs only for genuinely
numeric kernels (MinHash signatures, rolling-hash fingerprints); no
row-at-a-time Python UDFs, no collect()-driven loops.
"""
