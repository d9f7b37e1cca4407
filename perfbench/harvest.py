"""Traced-run harvester: spans, Spark status-store counters, and
micro-batch phases, all measured from outside the engine.

* ``Spans`` keeps every span in memory; ``dump`` writes them once.
* ``status_snapshot`` reads jobs and stages from the Spark status store
  (the same store the Spark UI reads) through the JVM gateway.
  ``execution_metrics`` attributes jobs to a span by TIME INTERVAL,
  not by job group: streaming queries submit jobs from their own
  threads, outside the caller's job group.
* ``BatchListener`` is a ``StreamingQueryListener`` that records each
  micro-batch's phase durations (``durationMs``) as it completes.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

from stats import driver_gap


class Spans:
    """In-memory span log: ``(name, start, end, parent)`` with epoch-second
    times, so spans line up with status-store job times."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        rec = {"name": name, "parent": parent, "start": time.time(), "end": None}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.records.append(rec)

    def get(self, name: str) -> dict:
        for rec in self.records:
            if rec["name"] == name:
                return rec
        raise KeyError(name)

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.records, **extra}, fh, indent=1, default=str)


@dataclass(frozen=True)
class Job:
    job_id: int
    start: float
    end: float
    stage_ids: tuple[int, ...]


@dataclass(frozen=True)
class Stage:
    stage_id: int
    executor_run_s: float
    shuffle_write_bytes: int
    spill_bytes: int


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def status_snapshot(spark) -> tuple[list[Job], dict[int, Stage]]:
    """Every finished job and every stage attempt the status store holds."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _iterate(store.jobsList(None)):
        start, end = _opt_time(j.submissionTime()), _opt_time(j.completionTime())
        if start is None or end is None:
            continue
        jobs.append(Job(j.jobId(), start, end, tuple(_iterate(j.stageIds()))))
    stages: dict[int, Stage] = {}
    # stageList(statuses, details, withSummaries, unsortedQuantiles,
    # taskStatus): Scala default arguments do not exist through py4j
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for s in _iterate(store.stageList(None, False, False, no_quantiles, sc._jvm.java.util.ArrayList())):
        sid = s.stageId()
        prev = stages.get(sid)
        st = Stage(
            sid,
            s.executorRunTime() / 1000.0 + (prev.executor_run_s if prev else 0.0),
            s.shuffleWriteBytes() + (prev.shuffle_write_bytes if prev else 0),
            s.memoryBytesSpilled() + s.diskBytesSpilled() + (prev.spill_bytes if prev else 0),
        )
        stages[sid] = st
    return jobs, stages


def execution_metrics(span: tuple[float, float], jobs: list[Job],
                      stages: dict[int, Stage]) -> dict[str, float]:
    """Jobs submitted inside ``span`` and the work of their stages."""
    a, b = span
    mine = [j for j in jobs if a <= j.start <= b]
    stage_ids = {sid for j in mine for sid in j.stage_ids if sid in stages}
    intervals = [(j.start, j.end) for j in mine]
    return {
        "wall_s": b - a,
        "jobs": len(mine),
        "stages": len(stage_ids),
        "executor_run_s": sum(stages[s].executor_run_s for s in stage_ids),
        "shuffle_write_bytes": sum(stages[s].shuffle_write_bytes for s in stage_ids),
        "spill_bytes": sum(stages[s].spill_bytes for s in stage_ids),
        "driver_gap_s": driver_gap(span, intervals),
    }


class BatchListener(StreamingQueryListener):
    """Records ``(arrival time, query name, batch id, rows, durationMs)``
    for every completed micro-batch of every query in the session."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "at": time.time(),
            "query": p.name,
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.batches)
