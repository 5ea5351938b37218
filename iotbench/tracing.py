"""Traced-run instruments, all measured from outside the program.

- ``Tracer``: spans around each call the benchmark makes into a layer.
- ``RssSampler``: peak resident memory of this process and every
  descendant (the Spark JVM and its Python workers), read from /proc.
- ``SparkRest``: engine counters of a set of Spark jobs, read
  from the Spark UI REST API (the UI is on in traced runs only).
- ``progress_metrics``: micro-batch and state-store figures from
  ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request
from typing import Iterator

from stats import median


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.

    A disabled tracer records nothing, so the untraced run pays only a
    function call per span."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec: dict = {"attrs": attrs}
        if not self.enabled:
            yield rec
            return
        rec.update(
            id=len(self.spans),
            name=name,
            trace=self.trace_id,
            parent=self._stack[-1] if self._stack else None,
            start=time.time(),
        )
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants, in MiB."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Samples ``tree_rss_mb`` of this process on a daemon thread."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class SparkRest:
    """Reads job and stage data of the running application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def job_ids(self) -> set[int]:
        return {j["jobId"] for j in self._get("/jobs")}

    def stage_metrics(self, jobs: set[int], wall_s: float) -> dict[str, float]:
        """Engine counters summed over the stages of ``jobs``."""
        # the listener bus updates the UI store asynchronously
        time.sleep(1.0)
        stage_ids = {
            s for j in self._get("/jobs") if j["jobId"] in jobs for s in j["stageIds"]
        }
        stages = [
            s
            for s in self._get("/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        tot = lambda k: float(sum(s.get(k, 0) for s in stages))  # noqa: E731
        cpu_ms = tot("executorCpuTime") / 1e6
        skew = 1.0
        if stages:
            heavy = max(stages, key=lambda s: s.get("executorRunTime", 0))
            q = self._get(
                f"/stages/{heavy['stageId']}/{heavy['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            skew = q[1] / max(q[0], 1.0)
        return {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": tot("numCompleteTasks"),
            "spark.shuffle_write_bytes": tot("shuffleWriteBytes"),
            "spark.shuffle_read_bytes": tot("shuffleReadBytes"),
            "spark.spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
            "spark.gc_ms": tot("jvmGcTime"),
            "spark.executor_cpu_ms": cpu_ms,
            "spark.cpu_busy_ratio": cpu_ms / (wall_s * 1000.0 * self.cores),
            "spark.task_skew": skew,
        }


def _get(p: dict, *names: str) -> float:
    """A nested numeric field of a progress record, 0 when absent."""
    for n in names:
        p = p.get(n) if isinstance(p, dict) else None
    return 0.0 if p is None else float(p)


def progress_metrics(progress: list, wall_s: float) -> dict[str, float]:
    """Micro-batch and state-store figures of one query's batches, from
    its progress records as plain dicts."""
    data = [p for p in progress if _get(p, "numInputRows") > 0] or progress
    dur = lambda *ks: [sum(_get(p, "durationMs", k) for k in ks) for p in data]  # noqa: E731
    state = [(p.get("stateOperators") or [{}])[0] for p in data]
    trig_total = sum(_get(p, "durationMs", "triggerExecution") for p in progress)
    p50 = lambda xs: median(xs) if xs else 0.0  # noqa: E731
    return {
        "streaming.batches": float(len(progress)),
        "streaming.batch.data_ratio": len([p for p in progress if _get(p, "numInputRows") > 0])
        / max(len(progress), 1),
        "streaming.batch.rows_p50": p50([_get(p, "numInputRows") for p in data]),
        "streaming.batch.trigger_ms_p50": p50(dur("triggerExecution")),
        "streaming.batch.add_ms_p50": p50(dur("addBatch")),
        "streaming.batch.planning_ms_p50": p50(dur("queryPlanning")),
        "streaming.batch.commit_ms_p50": p50(dur("walCommit", "commitOffsets")),
        "streaming.batch.offset_ms_p50": p50(dur("latestOffset", "getBatch")),
        "streaming.batch.idle_ms": max(wall_s * 1000.0 - trig_total, 0.0),
        "operators.state.update_ms": p50([_get(s, "allUpdatesTimeMs") for s in state]),
        "operators.state.commit_ms": p50([_get(s, "commitTimeMs") for s in state]),
        "operators.state.rows": _get(state[-1], "numRowsTotal") if state else 0.0,
        "operators.state.rows_updated": float(sum(_get(s, "numRowsUpdated") for s in state)),
        "operators.state.mem_bytes": max((_get(s, "memoryUsedBytes") for s in state), default=0.0),
    }
