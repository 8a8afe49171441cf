"""Streaming run telemetry via StreamingQueryListener (reference I4:
per-run stats appended to ``run_stats.json``, ``run_pipeline.py:107-144``
— here the engine pushes progress events instead of stages writing
files).

:class:`ProgressCapture` collects per-micro-batch progress (rows,
duration, state-store metrics) in memory and optionally appends rows to
a Parquet history — the streaming twin of ``sources/metrics.record_run``.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from ipes_data_pipeline_spark.operators.util import local_frame


class ProgressCapture(StreamingQueryListener):
    """Collects micro-batch progress for all queries on the session.

    Attach with ``spark.streams.addListener(cap)``; detach with
    ``removeListener``. ``events`` holds dicts with the fields the
    reference's run history tracked (timestamp, duration, row counts)
    plus streaming-specific ones (batch id, state rows).
    """

    def __init__(self) -> None:
        self.started: list[str] = []
        self.events: list[dict] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        self.events.append(
            {
                "query_id": p.get("id"),
                "batch_id": p.get("batchId"),
                "timestamp": p.get("timestamp"),
                "num_input_rows": p.get("numInputRows", 0),
                "batch_duration_ms": p.get("batchDuration"),
                "state_rows": sum(
                    s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])
                ),
            }
        )

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing-dependent
        pass

    def flush_history(self, spark: SparkSession, history_dir: str) -> None:
        """Append captured progress to a Parquet history table and DRAIN
        the buffer — periodic flushes (the natural use of an append-mode
        history) must not rewrite already-flushed events, or history
        totals inflate with duplicates. Snapshot-then-clear keeps events
        arriving mid-flush for the next one; the buffer is only cleared
        after the write succeeds (a failed flush retries the batch)."""
        if not self.events:
            return
        snapshot = self.events[: len(self.events)]
        local_frame(
            spark,
            [
                (
                    e["query_id"],
                    int(e["batch_id"]) if e["batch_id"] is not None else None,
                    e["timestamp"],
                    int(e["num_input_rows"]),
                    int(e["batch_duration_ms"] or 0),
                    int(e["state_rows"]),
                )
                for e in snapshot
            ],
            "query_id string, batch_id long, ts string, num_input_rows long, "
            "batch_duration_ms long, state_rows long",
        ).coalesce(1).write.mode("append").parquet(history_dir)
        del self.events[: len(snapshot)]
