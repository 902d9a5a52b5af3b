"""Streaming observability (SURVEY.md §2.11): the reference's DEBUG
logging (weather_data_fetcher.py:14,47,129) maps to a
StreamingQueryListener capturing per-epoch progress — rows/sec, batch
duration, watermark, state size, state-store instances and commit time —
queryable as a DataFrame for the same analytics surface as any other
table. The state columns are summed over the epoch's stateful operators
(0 for a stateless stream); ``watermark`` is null for a stream without
one.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

PROGRESS_SCHEMA = (
    "query_id string, batch_id long, timestamp string,"
    " num_input_rows long, input_rows_per_second double,"
    " process_rows_per_second double, batch_duration_ms long,"
    " watermark string, state_rows_total long, state_store_instances long,"
    " state_commit_ms long"
)

#: column order of ``progress_df``
_COLUMNS = tuple(c.split()[0] for c in PROGRESS_SCHEMA.split(","))


class ProgressRecorder(StreamingQueryListener):
    """Collects micro-batch progress events in memory (driver-side; one
    small dict per epoch — bounded by retention, not stream volume)."""

    def __init__(self, max_events: int = 1000) -> None:
        self.events: list[dict[str, Any]] = []
        self._max = max_events

    # -- listener callbacks -------------------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        ops = p.get("stateOperators") or []
        self.events.append(
            {
                "query_id": str(p.get("id")),
                "batch_id": int(p.get("batchId", -1)),
                "timestamp": str(p.get("timestamp")),
                "num_input_rows": int(p.get("numInputRows", 0)),
                "input_rows_per_second": float(p.get("inputRowsPerSecond", 0.0) or 0.0),
                "process_rows_per_second": float(
                    p.get("processedRowsPerSecond", 0.0) or 0.0
                ),
                "batch_duration_ms": int(p.get("batchDuration", 0)),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
                "state_rows_total": sum(int(o.get("numRowsTotal", 0)) for o in ops),
                "state_store_instances": sum(
                    int(o.get("numStateStoreInstances", 0)) for o in ops
                ),
                "state_commit_ms": sum(int(o.get("commitTimeMs", 0)) for o in ops),
            }
        )
        if len(self.events) > self._max:
            del self.events[: len(self.events) - self._max]

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- analytics surface --------------------------------------------------
    def progress_df(self, spark: SparkSession) -> DataFrame:
        rows = [tuple(e[k] for k in _COLUMNS) for e in self.events]
        return spark.createDataFrame(rows or [], PROGRESS_SCHEMA)
