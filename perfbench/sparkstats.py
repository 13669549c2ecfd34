"""Spark's own counters, read from outside the program.

``Counters`` diffs the driver's status store (the store behind the web UI,
kept even with the UI off) between two marks: jobs, stages, tasks, shuffle
and spill bytes, executor run time. Job ids are sequential, so a mark is
the highest job id seen; every job after it is read whatever its job
group, which ``StatusTracker.getJobIdsForGroup(None)`` would miss for
streaming jobs. A stage shared by several jobs counts once, and a skipped
stage has no attempt to read (``lastStageAttempt`` raises for it), so a
stage whose lookup raises, or whose status is SKIPPED, adds nothing.

``StreamCollector`` is a ``StreamingQueryListener``; once registered it
sees the progress of every streaming query in the session, including
queries started inside registry rows.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Delta:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    run_ms: int = 0


class Counters:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    def _drain(self) -> None:
        # events reach the store through the async listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Highest job id so far (the status store lists jobs newest first)."""
        self._drain()
        jobs = self._conv.asJava(self._store.jobsList(None))
        return jobs.get(0).jobId() if jobs.size() else -1

    def since(self, mark: int) -> Delta:
        d = Delta()
        stage_ids: set[int] = set()
        for job_id in range(mark + 1, self.mark() + 1):
            try:
                job = self._store.job(job_id)
            except Py4JJavaError:  # NoSuchElementException: job dropped
                continue
            d.jobs += 1
            stage_ids.update(self._conv.asJava(job.stageIds()))
        for sid in sorted(stage_ids):
            try:
                attempts = self._conv.asJava(
                    self._store.stageData(sid, False, None, False, None))
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            for st in attempts:
                if st.status().toString() == "SKIPPED":
                    continue
                d.stages += 1
                d.tasks += st.numCompleteTasks()
                d.shuffle_bytes += st.shuffleWriteBytes()
                d.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                d.run_ms += st.executorRunTime()
        return d


@dataclass
class QueryLife:
    started: float
    progress: list = field(default_factory=list)
    terminated: float | None = None


class StreamCollector(StreamingQueryListener):
    """Progress of every streaming query, keyed by run id, with wall-clock
    (epoch seconds) start and stop times."""

    def __init__(self) -> None:
        self.queries: dict[str, QueryLife] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.queries[str(event.runId)] = QueryLife(time.time())

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            life = self.queries.setdefault(str(p.runId), QueryLife(time.time()))
            life.progress.append({
                "start": _epoch(p.timestamp),
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [(s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                          for s in p.stateOperators],
            })

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            life = self.queries.get(str(event.runId))
            if life is not None:
                life.terminated = time.time()

    def take(self) -> list[QueryLife]:
        """The queries seen since the last call."""
        with self._lock:
            out = list(self.queries.values())
            self.queries = {}
        return out


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    return (datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=timezone.utc).timestamp())
