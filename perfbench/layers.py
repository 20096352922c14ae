"""Per-layer metrics of the traced run, named after the repo's modules.

Every workload reports every metric; a layer the workload does not run
reads 0 (the kernel sample of curate_corpus, the operators of the crawl
workloads). Durations are medians over the spans of one name; Spark-side
numbers come from the event log, attributed by the job description each
span set around its call.
"""

from __future__ import annotations

import statistics

import eventlog
from spans import durations, nested, self_times

OPERATORS = ("quality_features", "exact_dedup", "minhash_lsh_candidates",
             "connected_components", "decontaminate", "dedup_paragraphs",
             "redact_pii")

# the crawl probes are cumulative: each job adds one step to the previous
# one, and the last is the workload itself
CRAWL_STEPS = (("scan", "pipeline.scan"),
               ("arrow", "pipeline.arrow_roundtrip"),
               ("kernel_adapter", "pipeline.extract_noop"),
               ("write", "pipeline.extract_write"),
               ("commit", "workload"))


def per_layer(workload: str, res: dict, events: list[dict], cores: int,
              names: list[str]) -> dict[str, float]:
    """name -> value of every metric in ``names``, from one traced launch.

    ``res`` is the launch's result: the probes' ``layers`` values, their
    ``spans`` and the untraced reference runs' seconds, ``reference_s``;
    ``events`` is its Spark event log. Raises KeyError when a computed metric is not in ``names``."""
    got = dict.fromkeys(names, 0.0)

    def put(name: str, value) -> None:
        if name not in got:
            raise KeyError(f"metric {name} is not declared in BENCHMARK.json")
        got[name] = float(value)

    for k, v in res["layers"].items():
        if k not in ("failed", "attempted"):
            put(k, v)
    spans = durations(res["spans"])
    dur = {k: statistics.median(v) for k, v in spans.items()}
    st = eventlog.stage_metrics(events)
    ref_wall = statistics.median(res["reference_s"])

    def busy(label: str) -> float:
        """Task time over wall time x cores, over every span of ``label``."""
        return st[label]["run_s"] / (sum(spans[label]) * cores)

    reps = len(spans["workload"])  # Spark totals of the workload, per run

    put("spark.task_retries", sum(a["failed_tasks"] + a["retried_tasks"]
                                  for a in st.values()))
    put("trace_overhead_frac", dur["workload"] / ref_wall - 1.0)

    if workload == "curate_corpus":
        for op in OPERATORS:
            label = f"operators.{op}"
            agg = st.get(label, {})
            put(f"{label}_s", dur[label])
            put(f"{label}.shuffle_write_mb", agg.get("shuffle_write_bytes", 0) / 1e6)
            put(f"{label}.stages", agg.get("stages", 0))
        agg = st["workload"]
        put("training.kept_documents_s", dur["training.kept_documents"])
        put("training.curated_corpus_s", dur["workload"])
        put("training.stages", agg["stages"] / reps)
        put("training.shuffle_write_mb", agg["shuffle_write_bytes"] / 1e6 / reps)
        put("training.spill_mb", agg["spill_bytes"] / 1e6 / reps)
        put("training.gc_s", agg["gc_s"] / reps)
        put("training.task_busy_frac", busy("workload"))
        put("selftime.sum_over_wall", dur["workload"] / ref_wall)
        return got

    put("pipeline.scan_s", dur["pipeline.scan"])
    put("pipeline.arrow_roundtrip_s", dur["pipeline.arrow_roundtrip"])
    put("pipeline.extract_noop_s", dur["pipeline.extract_noop"])
    put("pipeline.extract_write_s", dur["pipeline.extract_write"])
    put("pipeline.task_busy_frac", busy("pipeline.extract_noop"))
    salted = st["pipeline.salted_noop"]
    put("pipeline.shuffle_write_mb",
        salted["shuffle_write_bytes"] / 1e6 / len(spans["pipeline.salted_noop"]))
    put("pipeline.partition_skew", eventlog.partition_skew(salted))
    put("snapshot.run_extract_job_s", dur["workload"])
    put("snapshot.commit_overhead_s",
        dur["workload"] - dur["pipeline.extract_write"])
    put("snapshot.resume_check_s", dur["snapshot.resume_check"])
    # laid out as nested spans, the cumulative probes' self times are the
    # per-step costs; they telescope to the traced workload span
    chain = nested([(span, dur[span]) for _, span in CRAWL_STEPS], workload)
    selfs = self_times(chain)
    for (short, _), s in zip(CRAWL_STEPS, chain):
        put(f"selftime.{short}_s", selfs[s["id"]])
    put("selftime.kernel_adapter_share",
        got["selftime.kernel_adapter_s"] / dur["workload"])
    put("selftime.sum_over_wall", sum(selfs.values()) / ref_wall)
    return got
