"""Closed-loop op runner shared by the query and stream workloads.

One op is one declared query: build (``QUERIES[qid](spark, dir)``, which
for a stream replay runs the whole bounded stream), plan (the returned
frame's ``executedPlan()``) and exec (``collect()``). A pass runs the
workload's ops once, in order, with one client. Passes repeat while the
previous pass still fits in the time left, so a run measures about
``--seconds`` seconds and always at least one pass. Each pass reads its
own hard-linked copy of the inputs, so caches keyed by input path
(loaded tables, shared sketches, dedup stores) start cold in every pass
and all passes do the same work.

Bookkeeping that is not part of an op (engine counters, stream events,
output checks) runs after the op or after the pass, never inside an
op's timed region.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from spans import Tracer, median


@dataclass
class OpResult:
    name: str
    start: float
    end: float
    error: str = ""
    rows: list | None = None
    width: int = 0
    input_rows: int = 0
    layer: dict = field(default_factory=dict)
    df: object = None
    run_ids: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def run_passes(run_pass, seconds: float) -> list[list[OpResult]]:
    """Call ``run_pass(k)`` for k = 0, 1, ... while the previous pass
    would still end within ``seconds``; always at least one pass."""
    deadline = time.time() + seconds
    passes: list[list[OpResult]] = []
    while not passes or time.time() + pass_wall(passes[-1]) <= deadline:
        passes.append(run_pass(len(passes)))
    return passes


def run_ops(ops, run_op) -> list[OpResult]:
    """One pass: ``run_op(op)`` for every op in order. An op that raises
    is recorded as failed and the pass goes on."""
    results = []
    for op in ops:
        t0 = time.time()
        try:
            results.append(run_op(op))
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            results.append(OpResult(op, t0, time.time(), error=f"{type(exc).__name__}: {exc}"[:300]))
    return results


def pass_wall(results: list[OpResult]) -> float:
    return max(r.end for r in results) - min(r.start for r in results)


def summarize(passes: list[list[OpResult]]) -> dict:
    """End-to-end metrics over the passes of one run (setup and memory
    are added by the caller)."""
    ops = [r for p in passes for r in p]
    walls = [pass_wall(p) for p in passes]
    ok = [r for r in ops if not r.error]
    total = sum(walls)
    return {
        "wall_s": median(walls),
        "op_p50_s": median(r.wall for r in ops),
        "rows_per_s": sum(r.input_rows for r in ok) / total,
        "jobs_per_min": 60.0 * len(ok) / total,
    }


class StreamEvents:
    """Stream progress as the engine recorded it.

    A StreamingQueryListener stores every progress report by run id;
    ``DataStreamWriter.start`` is wrapped so the op that starts a query
    knows its run id at once. Before an op closes, ``drain`` waits until
    a terminated event has arrived for each query the op started, so no
    batch is lost to listener delivery lag.
    """

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import DataStreamWriter, StreamingQueryListener

        self._lock = threading.Lock()
        self.progress: dict[str, list[dict]] = {}
        self.terminated: dict[str, str | None] = {}
        self._started = threading.local()
        events = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with events._lock:
                    events.progress.setdefault(p["runId"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with events._lock:
                    events.terminated[str(event.runId)] = event.exception

        self._listener = Listener()
        spark.streams.addListener(self._listener)
        self._spark = spark
        self._writer = DataStreamWriter
        self._orig_start = DataStreamWriter.start

        def start(writer, *args, **kwargs):
            q = events._orig_start(writer, *args, **kwargs)
            getattr(events._started, "ids", []).append(str(q.runId))
            return q

        DataStreamWriter.start = start

    def begin(self) -> list[str]:
        self._started.ids = []
        return self._started.ids

    def drain(self, run_ids: list[str], timeout: float = 30.0) -> None:
        deadline = time.time() + timeout
        while any(r not in self.terminated for r in run_ids):
            if time.time() > deadline:
                raise TimeoutError(f"no terminated event for {run_ids} after {timeout}s")
            time.sleep(0.005)

    def batches(self, run_ids: list[str]) -> list[dict]:
        with self._lock:
            return [p for r in run_ids for p in self.progress.get(r, [])]

    def close(self) -> None:
        self._writer.start = self._orig_start
        self._spark.streams.removeListener(self._listener)


def engine_time(ts: str) -> float:
    """A progress ``timestamp`` (ISO-8601, UTC, ms) as epoch seconds."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def stream_phases(op: OpResult, batches: list[dict], tracer: Tracer, parent) -> dict:
    """Per-op stream numbers from engine timestamps only. Raises when a
    batch falls outside its op or the op is shorter than its batches."""
    slack = 0.002  # progress timestamps are whole milliseconds
    out = {"batches": len(batches), "input_rows": 0, "trigger_ms": 0}
    phases = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
    for k in phases:
        out[k] = 0
    out["state_commit_ms"], out["state_mem_bytes"] = 0, 0
    for b in batches:
        d = b.get("durationMs", {})
        trig = d.get("triggerExecution", 0)
        start = engine_time(b["timestamp"])
        end = start + trig / 1000.0
        if start < op.start - slack or end > op.end + slack:
            raise RuntimeError(
                f"batch {b.get('batchId')} [{start:.3f}, {end:.3f}] outside op "
                f"[{op.start:.3f}, {op.end:.3f}]"
            )
        tracer.add("batch", start, end, parent, batch_id=b.get("batchId"),
                   rows=b.get("numInputRows", 0))
        out["input_rows"] += b.get("numInputRows", 0)
        out["trigger_ms"] += trig
        for k in phases:
            out[k] += d.get(k, 0)
        state = b.get("stateOperators", [])
        out["state_commit_ms"] += sum(s.get("commitTimeMs", 0) for s in state)
        out["state_mem_bytes"] = max(out["state_mem_bytes"],
                                     sum(s.get("memoryUsedBytes", 0) for s in state))
    out["outside_batch_s"] = op.wall - out["trigger_ms"] / 1000.0
    if out["outside_batch_s"] < -slack * max(1, len(batches)):
        raise RuntimeError(f"negative outside-batch time {out['outside_batch_s']:.4f}s")
    return out


def scan_rows(plan) -> int:
    """Rows read by the scan operators of an executed physical plan.

    Walks only the leaves, descending through adaptive-plan and query
    stage wrappers, so it costs a few JVM calls per stage rather than
    one per operator and metric."""
    name = plan.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return scan_rows(plan.executedPlan())
    if "QueryStage" in name:
        return scan_rows(plan.plan())
    children = plan.children()
    if children.size() > 0:
        return sum(scan_rows(leaf) for leaf in _seq(plan.collectLeaves()))
    if name.startswith(("Scan", "BatchScan")):
        rows = plan.metrics().get("numOutputRows")
        return int(rows.get().value()) if rows.isDefined() else 0
    return 0


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def jobs_summary(sc, group: str) -> dict:
    """Jobs, stages and tasks the engine ran under one job group."""
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages = tasks = failed = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
