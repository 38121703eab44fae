"""Per-layer accounting from Spark's own records.

Batch work is read from the application status store (jobs, their
stages, and each stage's task metrics) and folded per job group or per
job-id range. Streaming work is folded from the progress records a
`StreamingQueryListener` receives. The folds are pure functions over
plain dicts; only `StatusStore` and `ProgressListener` touch Spark.
"""

from __future__ import annotations

import json
import threading
from collections import defaultdict

# status-store fields per stage, as plain numbers in seconds / bytes
_EMPTY_STAGE = {
    "tasks": 0,
    "run_s": 0.0,
    "cpu_s": 0.0,
    "gc_s": 0.0,
    "shuffle_bytes": 0,
    "spill_bytes": 0,
}


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] spans."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def fold_jobs(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Sum the stage metrics of `jobs` (each stage once, even when
    several jobs list it) and measure how long any of them ran."""
    out = dict(_EMPTY_STAGE, jobs=len(jobs), busy_s=0.0)
    seen: set[int] = set()
    for job in jobs:
        for sid in job["stage_ids"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for key in _EMPTY_STAGE:
                out[key] += stages[sid][key]
    out["busy_s"] = union_seconds(
        [(j["start_s"], j["end_s"]) for j in jobs if j["end_s"] is not None]
    )
    return out


def group_jobs(jobs: list[dict]) -> dict[str, list[dict]]:
    by_group: dict[str, list[dict]] = defaultdict(list)
    for job in jobs:
        by_group[job["group"]].append(job)
    return dict(by_group)


class StatusStore:
    """Reads jobs and stages from a live SparkContext's status store."""

    def __init__(self, sc):
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def _drain(self) -> None:
        # job/stage end events reach the store through the listener
        # bus; wait until it is empty so the last action's metrics are in
        self._jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        """Every finished job with an id above `job_id`."""
        self._drain()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id:
                continue
            group = j.jobGroup()
            sub, done = j.submissionTime(), j.completionTime()
            out.append(
                {
                    "job_id": j.jobId(),
                    "group": group.get() if group.isDefined() else "",
                    "stage_ids": [int(s) for s in _seq(j.stageIds())],
                    "start_s": sub.get().getTime() / 1000 if sub.isDefined() else 0.0,
                    "end_s": done.get().getTime() / 1000 if done.isDefined() else None,
                }
            )
        return out

    def stages(self, jobs: list[dict]) -> dict[int, dict]:
        out = {}
        for sid in {s for j in jobs for s in j["stage_ids"]}:
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # a stage that was planned but never submitted
                continue
            out[sid] = {
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.diskBytesSpilled(),
            }
        return out

    def fold_after(self, job_id: int) -> dict:
        jobs = self.jobs_after(job_id)
        return fold_jobs(jobs, self.stages(jobs))


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


# --- streaming progress ------------------------------------------------------


def fold_progress(progress: list[dict]) -> dict:
    """Fold `StreamingQueryProgress` JSON records of one or more queries.

    A batch with input rows is a data batch; a batch without is the
    wrap-up (or idle) batch, whose whole trigger time is counted
    separately so its fixed cost stays visible. `state_rows` is the
    state size each query ended with, summed over queries."""
    out = {
        "batches": 0,
        "empty_batches": 0,
        "add_batch_ms": 0,
        "empty_batch_ms": 0,
        "state_commit_ms": 0,
        "query_planning_ms": 0,
        "wal_commit_ms": 0,
        "state_rows": 0,
    }
    last_state: dict[str, int] = {}
    for p in progress:
        dur = p.get("durationMs", {})
        out["batches"] += 1
        if p.get("numInputRows", 0) > 0:
            out["add_batch_ms"] += dur.get("addBatch", 0)
        else:
            out["empty_batches"] += 1
            out["empty_batch_ms"] += dur.get("triggerExecution", 0)
        out["query_planning_ms"] += dur.get("queryPlanning", 0)
        out["wal_commit_ms"] += dur.get("walCommit", 0)
        ops = p.get("stateOperators", [])
        out["state_commit_ms"] += sum(op.get("commitTimeMs", 0) for op in ops)
        last_state[p.get("id", "")] = sum(op.get("numRowsTotal", 0) for op in ops)
    out["state_rows"] = sum(last_state.values())
    return out


def make_progress_listener():
    """A `StreamingQueryListener` that keeps every progress record as a
    dict. `take(n)` waits until `n` more queries have terminated, then
    hands over (and forgets) the records gathered so far."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self._cond = threading.Condition()
            self._progress: list[dict] = []
            self._terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._cond:
                self._progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cond:
                self._terminated += 1
                self._cond.notify_all()

        def take(self, n: int, timeout_s: float = 30.0) -> list[dict]:
            with self._cond:
                self._cond.wait_for(lambda: self._terminated >= n, timeout=timeout_s)
                self._terminated = max(0, self._terminated - n)
                out, self._progress = self._progress, []
                return out

    return ProgressListener()
