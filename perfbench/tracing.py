"""Tracing for the benchmark's traced runs: spans, call wrappers, Spark
status-store stage records, streaming progress records and process-tree
memory.

Spans are recorded only from the benchmark's own code: around its calls
into the engine, and by wrappers it installs over module functions the
engine calls (``install`` replaces a module attribute and ``restore``
puts the original back).  Nothing in the engine is edited.  Spans and
counters stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id) and counters.

    ``active`` switches recording on and off, so a traced run can time
    the same work with and without its wrappers doing anything."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.active = True
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        start = time.time()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": time.time(),
                   "parent": parent, "run_id": self.run_id}
            if attrs:
                rec["attrs"] = attrs
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.active:
            with self._lock:
                self.counts[name] += value

    def named(self, name: str, **attrs) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name
            and all(s.get("attrs", {}).get(k) == v for k, v in attrs.items())
        ]

    def seconds(self, name: str, **attrs) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, **attrs))

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "counts": dict(self.counts), **(extra or {})}, f)


class Patches:
    """Attribute replacements that ``restore`` undoes in reverse order."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def install(self, owner, attr: str, make) -> None:
        original = getattr(owner, attr)
        self._saved.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def restore(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)


def timed(tracer: Tracer, name: str, on_call=None, **attrs):
    """Wrapper factory for ``Patches.install``: a span around each call,
    plus ``on_call(args, result)`` for counters."""

    def make(fn):
        def wrapper(*args, **kwargs):
            with tracer.span(name, **attrs):
                result = fn(*args, **kwargs)
            if on_call is not None and tracer.active:
                on_call(args, result)
            return result

        wrapper.__wrapped__ = fn
        return wrapper

    return make


# -- Spark status store ---------------------------------------------------------


def stage_records(spark) -> tuple[list[dict], list[dict]]:
    """Every job and every finished stage the status store still holds,
    each stage with its job group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    group_of: dict[int, str | None] = {}
    job_list = []
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        group = group.get() if group.isDefined() else None
        sub = job.submissionTime()
        job_list.append({"job": job.jobId(), "group": group,
                         "submitted_ms": sub.get().getTime() if sub.isDefined() else 0})
        ids = job.stageIds()
        for k in range(ids.size()):
            group_of[ids.apply(k)] = group
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    one = gw.new_array(gw.jvm.double, 1)
    one[0] = 1.0
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        sub, done = s.submissionTime(), s.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        summary = store.taskSummary(s.stageId(), s.attemptId(), one)
        max_task = (summary.get().executorRunTime().apply(0)
                    if summary.isDefined() else 0.0)
        out.append({
            "stage": s.stageId(), "attempt": s.attemptId(),
            "group": group_of.get(s.stageId()),
            "submitted_ms": sub.get().getTime(),
            "completed_ms": done.get().getTime(),
            "tasks": s.numTasks(), "run_ms": s.executorRunTime(),
            "cpu_ms": s.executorCpuTime() / 1e6, "gc_ms": s.jvmGcTime(),
            "max_task_ms": float(max_task),
            "input_records": s.inputRecords(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        })
    return job_list, out


def stages_within(stages: list[dict], intervals: list[tuple[float, float]]) -> list[dict]:
    """Stages submitted inside any of the (start, end) epoch-second
    intervals."""
    return [
        s for s in stages
        if any(a * 1000 <= s["submitted_ms"] <= b * 1000 for a, b in intervals)
    ]


SERIAL_MIN_RUN_MS = 200
SERIAL_MAX_PARALLELISM = 1.5


def stage_metrics(stages: list[dict]) -> dict[str, float]:
    """The ``stages.*`` per-layer metrics over a set of stage records."""
    wall = [max(1, s["completed_ms"] - s["submitted_ms"]) for s in stages]
    run_ms = sum(s["run_ms"] for s in stages)
    wall_ms = sum(wall)
    serial = sum(
        w for s, w in zip(stages, wall)
        if s["run_ms"] >= SERIAL_MIN_RUN_MS and s["run_ms"] / w < SERIAL_MAX_PARALLELISM
    )
    return {
        "stages.count": len(stages),
        "stages.tasks": sum(s["tasks"] for s in stages),
        "stages.run_ms": run_ms,
        "stages.cpu_ms": sum(s["cpu_ms"] for s in stages),
        "stages.gc_ms": sum(s["gc_ms"] for s in stages),
        "stages.wall_ms": wall_ms,
        "stages.parallelism": run_ms / wall_ms if wall_ms else 0.0,
        "stages.serial_ms": serial,
        "stages.max_task_ms": max((s["max_task_ms"] for s in stages), default=0.0),
        "stages.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "stages.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "stages.spill_bytes": sum(s["spill_bytes"] for s in stages),
    }


def wait_for_listeners(spark) -> None:
    """Block until the Spark listener bus has delivered every event, so
    status-store and streaming-progress records are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# -- Structured Streaming progress ------------------------------------------------


def progress_listener():
    """A StreamingQueryListener that keeps every per-trigger progress
    record as a plain dict (the SIGMOD 2018 ``StreamingQueryProgress``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.records: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.records.append({
                "id": str(p.id), "batch": p.batchId,
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [
                    {"rows": o.numRowsTotal, "bytes": o.memoryUsedBytes,
                     "commit_ms": o.commitTimeMs}
                    for o in p.stateOperators
                ],
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Progress()


def batch_metrics(records: list[dict]) -> dict[str, float]:
    """``streaming.batch*`` and ``streaming.state.*`` metrics: per-batch
    means of the trigger breakdown, share of batches with no input, and
    state held at each query's last batch (summed over queries)."""
    n = len(records)

    def mean(key: str) -> float:
        return sum(r["duration_ms"].get(key, 0) for r in records) / n if n else 0.0

    last: dict[str, dict] = {}
    for r in records:
        last[r["id"]] = r
    return {
        "streaming.batch.trigger_ms": mean("triggerExecution"),
        "streaming.batch.planning_ms": mean("queryPlanning"),
        "streaming.batch.add_batch_ms": mean("addBatch"),
        "streaming.batch.commit_ms": mean("walCommit") + mean("commitOffsets"),
        "streaming.batches.no_data_ratio": (
            sum(1 for r in records if r["input_rows"] == 0) / n if n else 0.0),
        "streaming.state.rows": sum(o["rows"] for r in last.values() for o in r["state"]),
        "streaming.state.bytes": sum(o["bytes"] for r in last.values() for o in r["state"]),
        "streaming.state.commit_ms": sum(o["commit_ms"] for r in records for o in r["state"]),
    }


# -- process-tree memory ------------------------------------------------------------


def children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    kids, out, todo = children(), [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (driver Python,
    the JVM and its Python workers), read from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread keeping the peak of ``tree_rss_bytes``."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
