import json
from pathlib import Path

import pytest

import eventlog
import layers

ROOT = Path(__file__).resolve().parents[2]
NAMES = [m["name"] for m in
         json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]]
LOG = Path(__file__).parent / "data" / "eventlog-small.jsonl"


def relabelled(mapping):
    events = eventlog.read_events(LOG)
    for e in events:
        props = e.get("Properties") or {}
        if props.get("spark.job.description") in mapping:
            props["spark.job.description"] = mapping[props["spark.job.description"]]
    return events


def spans(durations):
    out, t = [], 0.0
    for k, (name, d) in enumerate(durations):
        out.append({"id": k + 1, "name": name, "start": t, "end": t + d,
                    "parent": None, "run_id": "r"})
        t += d
    return out


def test_crawl_self_times_decompose_the_workload():
    steps = [("pipeline.scan", 0.5), ("pipeline.arrow_roundtrip", 1.0),
             ("pipeline.extract_noop", 3.0), ("pipeline.salted_noop", 3.2),
             ("pipeline.extract_write", 3.5), ("workload", 4.0),
             ("snapshot.resume_check", 0.7)]
    res = {"layers": {"failed": 0, "attempted": 10, "kernel.pages_extracted": 10},
           "spans": spans(steps + steps),
           "reference_s": [4.0, 4.2, 3.8]}
    events = relabelled({"label.map": "pipeline.extract_noop",
                         "label.shuffle": "pipeline.salted_noop"})
    got = layers.per_layer("crawl_extract", res, events, 2, NAMES)
    assert set(got) == set(NAMES)
    assert [got[f"selftime.{s}_s"] for s in
            ("scan", "arrow", "kernel_adapter", "write", "commit")] == \
        pytest.approx([0.5, 0.5, 2.0, 0.5, 0.5])
    assert got["selftime.kernel_adapter_share"] == pytest.approx(0.5)
    assert got["selftime.sum_over_wall"] == pytest.approx(1.0)
    assert got["trace_overhead_frac"] == pytest.approx(0.0)
    assert got["snapshot.commit_overhead_s"] == pytest.approx(0.5)
    # task time over wall x cores, over both extract_noop spans
    assert got["pipeline.task_busy_frac"] == pytest.approx(3.382 / (6.0 * 2))
    # the shuffle is read from the salted probe, per span
    assert got["pipeline.shuffle_write_mb"] == pytest.approx(0.001008 / 2)
    assert got["pipeline.partition_skew"] > 0
    assert got["operators.exact_dedup_s"] == 0.0
    assert got["kernel.pages_extracted"] == 10


def test_curate_reads_operator_stages_from_their_labels():
    ops = [(f"operators.{op}", 0.1) for op in layers.OPERATORS]
    res = {"layers": {"failed": 0, "attempted": 10, "training.kept_frac": 0.8},
           "spans": spans(ops + [("training.kept_documents", 1.0), ("workload", 2.0),
                                 ("workload", 2.0)]),
           "reference_s": [2.5]}
    events = relabelled({"label.shuffle": "operators.exact_dedup",
                         "label.map": "workload"})
    got = layers.per_layer("curate_corpus", res, events, 2, NAMES)
    assert got["operators.exact_dedup.stages"] == 2
    assert got["operators.exact_dedup.shuffle_write_mb"] == pytest.approx(0.001008)
    assert got["operators.redact_pii.stages"] == 0  # ran no labelled job here
    assert got["training.stages"] == 0.5  # one stage over two traced runs
    assert got["training.curated_corpus_s"] == pytest.approx(2.0)
    assert got["trace_overhead_frac"] == pytest.approx(2.0 / 2.5 - 1.0)
    assert got["selftime.kernel_adapter_s"] == 0.0


def test_an_undeclared_metric_is_refused():
    res = {"layers": {"failed": 0, "attempted": 1, "kernel.no_such_metric": 1.0},
           "spans": [], "reference_s": []}
    with pytest.raises(KeyError):
        layers.per_layer("crawl_extract", res, [], 2, NAMES)
