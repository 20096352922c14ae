"""The Arrow-batched UDF around the pure kernel.

No per-row Python UDFs anywhere (BASELINE.json input_hint mandate): one
``mapInArrow`` batch kernel. All heavy work stays in
:mod:`llmap_spark.kernel`, which is also the oracle — the wrapper only
adapts Arrow batches to kernel calls.
"""
