"""Large-scale training-data pipeline operators.

Beyond the extraction funnel, these are the operations a 100 TB web-text
training-data pipeline needs: deduplication (exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding near-dup), similarity search (brute-force +
IVF-bucketed ANN), text analysis (language id, quality scoring, token
counting, fingerprinting), scrubbing (paragraph dedup, decontamination,
PII redaction) and bin-packing.

Design rules: built-in `pyspark.sql.functions` (JVM-side, codegen'd)
wherever the semantics allow; Arrow-batched pandas UDFs only for genuinely
numeric kernels (MinHash/SimHash signatures, embedding math); no
row-at-a-time Python UDFs, no collect()-driven loops.
"""
