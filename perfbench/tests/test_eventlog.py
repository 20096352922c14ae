"""The event-log parser on a small recorded log.

``data/eventlog-small.jsonl`` is a Spark 4.1 event log of three jobs on
``local[2]`` (AQE off, 3 shuffle partitions), trimmed to the events and
fields the parser reads:

  label.shuffle  range(1000) in 4 splits, grouped on id % 10: 2 stages
  label.map      range(600) in 2 splits through an identity mapInArrow
  (no label)     range(10).count()
"""

import copy
from pathlib import Path

import pytest

import eventlog

LOG = Path(__file__).parent / "data" / "eventlog-small.jsonl"


@pytest.fixture(scope="module")
def events():
    return eventlog.read_events(LOG)


def test_tasks_are_attributed_to_their_job_description(events):
    st = eventlog.stage_metrics(events)
    assert set(st) == {"label.shuffle", "label.map", "(unlabelled)"}
    assert (st["label.shuffle"]["stages"], st["label.shuffle"]["tasks"]) == (2, 7)
    assert (st["label.map"]["stages"], st["label.map"]["tasks"]) == (1, 2)
    assert st["label.shuffle"]["input_records"] == 1000
    assert st["label.map"]["input_records"] == 600
    assert st["(unlabelled)"]["input_records"] == 10


def test_shuffle_bytes_time_and_failures(events):
    st = eventlog.stage_metrics(events)
    shuffle = st["label.shuffle"]
    assert shuffle["shuffle_write_bytes"] == 1008
    assert shuffle["shuffle_read_bytes"] == 1008
    assert st["label.map"]["shuffle_write_bytes"] == 0
    assert shuffle["run_s"] == pytest.approx(0.603)
    assert shuffle["gc_s"] == pytest.approx(0.066)
    assert all(a["failed_tasks"] == a["retried_tasks"] == a["spill_bytes"] == 0
               for a in st.values())


def test_partition_skew_reads_the_shuffled_stage(events):
    st = eventlog.stage_metrics(events)
    # the reduce tasks read 4, 12 and 24 records: max over median is 2
    assert eventlog.partition_skew(st["label.shuffle"]) == pytest.approx(2.0)
    # no shuffle: the scan's input records, 300 and 300
    assert eventlog.partition_skew(st["label.map"]) == pytest.approx(1.0)


def test_failed_and_retried_attempts_are_counted(events):
    end = next(e for e in events if e["Event"] == "SparkListenerTaskEnd"
               and e["Stage ID"] == 2)
    failed = copy.deepcopy(end)
    failed["Task End Reason"] = {"Reason": "ExceptionFailure"}
    retry = copy.deepcopy(end)
    retry["Task Info"]["Attempt"] = 1
    st = eventlog.stage_metrics(events + [failed, retry])
    assert st["label.map"]["failed_tasks"] == 1
    assert st["label.map"]["retried_tasks"] == 1
    assert st["label.map"]["tasks"] == 4


def test_a_directory_must_hold_exactly_one_log(tmp_path):
    with pytest.raises(ValueError):
        eventlog.read_events(tmp_path)
    (tmp_path / "app-1").write_text(LOG.read_text())
    assert len(eventlog.read_events(tmp_path)) == len(eventlog.read_events(LOG))
