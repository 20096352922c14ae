"""Custom stateful streaming operator: applyInPandasWithState.

The reference has no streaming semantics at all (SURVEY §2 end note); this
is additive surface for a web-scale ingest pipeline: per-key running
aggregates that survive across micro-batches via GroupState. The demo
operator keeps a running per-user event count; the same shape carries any
per-key accumulator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from llmap_spark.streaming.windowed import EVENTS_DDL

OUT_DDL = "user_id long, n_events long"
STATE_DDL = "n long"


def _update_counts(key, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})


def running_user_counts_stream(spark: SparkSession, src_path: str,
                               query_name: str = "running_counts"):
    """Streaming per-user running counts with explicit GroupState."""
    events = (spark.readStream.schema(EVENTS_DDL).format("parquet")
              .load(src_path))
    out = events.groupBy("user_id").applyInPandasWithState(
        _update_counts, OUT_DDL, STATE_DDL, "update",
        GroupStateTimeout.NoTimeout)
    return (out.writeStream.outputMode("update").format("memory")
            .queryName(query_name).start())
