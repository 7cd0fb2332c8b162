"""Pipeline event log — the OSS analog of the DLT event log the
reference's Databricks tier maintains for every pipeline run
(README_DBT.md:101-106's managed pipeline features include the
observability surface: per-table materialization timing, expectation
metrics, streaming progress).

One JSONL file per engine instance; every record carries
``(ts, event_type, payload)``.  :class:`EventLog` is a sink that two
producers write to:

- :class:`~.runner.Engine`, when its ``event_log`` is set
  (:func:`attach_event_log`): ``run_started``, one
  ``model_materialized`` per model as it finishes (``status`` ok or
  failed, with its ``error``), ``run_finished`` or ``run_failed``, and
  one ``check_result`` per check per ``test()`` — the persisted check
  history (the DLT expectation-metrics analog)
- :class:`ProgressListener` — Structured Streaming query progress
  (rows/sec, batch duration, state size) via the public
  ``StreamingQueryListener`` API

The log is itself a queryable relation (:func:`read_event_log`) — the
"event log as a table" design DLT exposes, so operational dashboards
are plain queries over it.  Appends are O(1) driver-side writes; at
scale the same records go to a parquet/Delta sink partitioned by day.
"""

from __future__ import annotations

import json
import threading
import time
from pathlib import Path
from typing import TYPE_CHECKING, Any

from pyspark.sql.streaming import StreamingQueryListener

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

    from .runner import Engine


class EventLog:
    """Append-only JSONL event log, thread-safe (engine waves
    materialize concurrently)."""

    def __init__(self, path: str | Path):
        self.path = Path(path)
        self.path.parent.mkdir(parents=True, exist_ok=True)
        self._lock = threading.Lock()

    def emit(self, event_type: str, **payload: Any) -> None:
        rec = {"ts": time.time(), "event_type": event_type, **payload}
        line = json.dumps(rec, sort_keys=True, default=str)
        with self._lock, self.path.open("a") as f:
            f.write(line + "\n")

    @staticmethod
    def _seconds(seconds: float) -> float:
        return round(seconds, 3)        # logged at ms resolution

    def model_event(self, qualified_name: str, seconds: float,
                    status: str = "ok", **extra: Any) -> None:
        self.emit("model_materialized", model=qualified_name,
                  seconds=self._seconds(seconds), status=status, **extra)

    def run_finished(self, seconds: dict[str, float]) -> None:
        self.emit("run_finished", n_models=len(seconds),
                  total_seconds=self._seconds(sum(seconds.values())))

    def check_event(self, check_name: str, passed: bool,
                    n_violations: int, **extra: Any) -> None:
        self.emit("check_result", check=check_name, passed=passed,
                  n_violations=n_violations, **extra)


def read_event_log(spark: "SparkSession", path: str | Path) -> "DataFrame":
    """The event log as a relation (schema inferred; ``event_type``
    discriminates record kinds, like the DLT event-log `details` map)."""
    return spark.read.json(str(path))


def attach_event_log(engine: "Engine", path: str | Path) -> EventLog:
    """Point ``engine``'s event sink at a JSONL file at ``path`` (appended
    to if it exists) and return the sink."""
    engine.event_log = EventLog(path)
    return engine.event_log


class ProgressListener(StreamingQueryListener):
    """Streaming progress → event log (DLT flow-progress analog).

    Registered via ``spark.streams.addListener``; captures per-batch
    input rates, durations, and state-store size so watermark/state
    growth is observable without touching the query itself.
    """

    def __init__(self, log: EventLog):
        self.log = log

    def onQueryStarted(self, event) -> None:
        self.log.emit("stream_started", query_id=str(event.id),
                      name=event.name or "")

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = p.stateOperators
        self.log.emit(
            "stream_progress", query_id=str(p.id), batch_id=p.batchId,
            num_input_rows=p.numInputRows,
            batch_duration_ms=p.durationMs.get("triggerExecution"),
            state_rows=sum(s.numRowsTotal for s in state) if state else 0)

    def onQueryTerminated(self, event) -> None:
        self.log.emit("stream_terminated", query_id=str(event.id),
                      error=event.exception or "")

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass
