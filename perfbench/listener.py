"""StreamingQueryListener that records micro-batch progress per request."""

from __future__ import annotations

import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class StreamCollector(StreamingQueryListener):
    """Records every micro-batch's progress and every query's run id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._started: set[str] = set()
        self._terminated: set[str] = set()
        self._batches: list[dict] = []
        self._runs: list[str] = []
        self._last = time.monotonic()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._started.add(str(event.runId))
            self._runs.append(str(event.runId))
            self._last = time.monotonic()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        ops = p.stateOperators or []
        batch = {
            "start": start,
            "rows": p.numInputRows,
            "ms": {k: float(v) for k, v in dict(p.durationMs).items()},
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": float(sum(o.commitTimeMs for o in ops)),
        }
        with self._lock:
            self._batches.append(batch)
            self._last = time.monotonic()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated.add(str(event.runId))
            self._last = time.monotonic()

    def take(self, quiet_s: float = 0.1, timeout_s: float = 10.0) -> tuple[list[dict], list[str]]:
        """Wait until every started query has terminated and no event came
        for `quiet_s`, then return the batches and run ids seen since the
        last call. Listener events arrive asynchronously, so this runs
        after a request, outside its timed region."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                done = self._started <= self._terminated
                idle = time.monotonic() - self._last >= quiet_s
            if done and idle:
                break
            time.sleep(0.01)
        with self._lock:
            batches, runs = self._batches, self._runs
            self._batches, self._runs = [], []
        return batches, runs
