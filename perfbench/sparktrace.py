"""Spark-side measurements for traced passes, read from outside the program.

- Batch rows: each row runs under its own job group; after the row, the
  group's jobs come from ``statusTracker`` and each job's stages from the
  status store (``statusStore().lastStageAttempt``).
- Streaming drains run their jobs on Spark's stream thread, which the
  caller's job group does not reach. Structured Streaming puts those jobs
  in a job group named after the query's run id; a
  ``StreamingQueryListener`` registered here learns the run ids and keeps
  each micro-batch's progress (``durationMs`` parts, state operators).
"""

from __future__ import annotations

import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class DrainListener(StreamingQueryListener):
    """Collects run ids and progress of every streaming query."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._started: list[str] = []
        self._done: set[str] = set()
        self._progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self._progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._done.add(str(event.runId))

    def take(self, timeout_s: float = 5.0) -> dict[str, list[dict]]:
        """Progress of the queries started since the last call, once each
        has terminated (listener events arrive asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                started = list(self._started)
                if set(started) <= self._done or time.monotonic() > deadline:
                    out = {r: self._progress.pop(r, []) for r in started}
                    self._started.clear()
                    return out
            time.sleep(0.01)


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def jobs(spark, groups: list[str], timeout_s: float = 5.0) -> list[dict]:
    """Finished jobs of ``groups`` with their non-skipped stages.

    Times are epoch seconds. Waits until the status store has seen every
    job end, since it is fed asynchronously."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
    deadline = time.monotonic() + timeout_s
    out = []
    for jid in jids:
        jd = store.job(jid)
        while not jd.completionTime().isDefined() and time.monotonic() < deadline:
            time.sleep(0.01)
            jd = store.job(jid)
        info = tracker.getJobInfo(jid)
        stages = []
        for sid in sorted(set(info.stageIds if info else ())):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            stages.append(
                {
                    "id": sid,
                    "start": _ms(sd.submissionTime()),
                    "end": _ms(sd.completionTime()),
                    "tasks": sd.numTasks(),
                    "task_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_mb": sd.shuffleWriteBytes() / 1e6,
                    "spill_mb": sd.memoryBytesSpilled() / 1e6,
                }
            )
        out.append(
            {
                "id": jid,
                "start": _ms(jd.submissionTime()),
                "end": _ms(jd.completionTime()),
                "stages": stages,
            }
        )
    return out


def covered(start: float, end: float, spans: list[tuple[float, float]]) -> float:
    """Seconds of [start, end] covered by the union of ``spans``."""
    total, cur = 0.0, start
    for s, e in sorted(spans):
        s, e = max(s, cur), min(e, end)
        if e > s:
            total += e - s
            cur = e
    return total


def drain_stats(progress: dict[str, list[dict]]) -> dict[str, float]:
    """Per-row sums over the micro-batches of the drains it ran."""
    batches = batch_ms = commit_ms = state_rows = state_commit_ms = records = 0.0
    for recs in progress.values():
        for p in recs:
            d = p.get("durationMs", {})
            batches += 1
            records += p.get("numInputRows", 0)
            batch_ms += d.get("triggerExecution", 0)
            commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            state_commit_ms += sum(
                s.get("commitTimeMs", 0) for s in p.get("stateOperators", ())
            )
        if recs:
            state_rows += sum(
                s.get("numRowsTotal", 0) for s in recs[-1].get("stateOperators", ())
            )
    return {
        "batches": batches,
        "batch_ms": batch_ms,
        "commit_ms": commit_ms,
        "state_rows": state_rows,
        "state_commit_ms": state_commit_ms,
        "records": records,
    }


def batch_spans(progress: dict[str, list[dict]], parent: str) -> list[dict]:
    """Micro-batch spans of a row's drains, with the ``durationMs`` parts
    laid end to end as child spans."""
    from datetime import datetime

    out = []
    for run_id, recs in progress.items():
        for p in recs:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            d = dict(p.get("durationMs", {}))
            total = d.pop("triggerExecution", 0) / 1e3
            name = f"{parent}/batch{p['batchId']}@{run_id[:8]}"
            out.append({"name": name, "parent": parent, "start": start, "end": start + total})
            t = start
            for part, ms in d.items():
                out.append({"name": f"{name}/{part}", "parent": name, "start": t, "end": t + ms / 1e3})
                t += ms / 1e3
    return out
