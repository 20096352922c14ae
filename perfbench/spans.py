"""Span recorder for the traced run.

One span per call: name, start, end, parent and run id. Spans live in memory
and are written out once, when the run ends. A span can also label the
Spark jobs started inside it (``spark.job.description``), which is how the
event-log parser attributes stage metrics to spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, sc=None, clock=time.perf_counter):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.sc = sc
        self._clock = clock
        self._stack: list[dict] = []
        self._started = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._started += 1
        rec = {"id": self._started, "name": name,
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id}
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobDescription(name)
        rec["start"] = self._clock()
        try:
            yield rec
        finally:
            rec["end"] = self._clock()
            self._stack.pop()
            self.spans.append(rec)
            if self.sc is not None:
                self.sc.setJobDescription(parent["name"] if parent else None)

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def durations(spans: list[dict]) -> dict[str, list[float]]:
    """span name -> the durations of every span of that name."""
    out: dict[str, list[float]] = {}
    for s in spans:
        out.setdefault(s["name"], []).append(s["end"] - s["start"])
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the part of it its child spans cover
    (children may overlap each other; the covered part is their union,
    clipped to the parent's interval)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], reach), min(c["end"], s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def nested(names_durations: list[tuple[str, float]], run_id: str) -> list[dict]:
    """Spans for cumulative measurements: each entry's job contains the
    previous entry's work plus one more step, so each is laid out as the
    parent of the previous one, all starting at 0. Their self times are then
    the per-step costs."""
    spans = []
    for k, (name, dur) in enumerate(names_durations):
        spans.append({"id": k + 1, "name": name, "start": 0.0, "end": dur,
                      "parent": k + 2 if k + 1 < len(names_durations) else None,
                      "run_id": run_id})
    return spans
