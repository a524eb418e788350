"""Outside-in collectors: per-op Spark counters, persisted RDDs, streaming
progress, peak RSS and the span recorder of the traced run.

Nothing here reaches into the program: Spark counters come from the
status store the engine already keeps, keyed by the job group the
benchmark sets before each op; spans wrap the program's public
functions from the outside.
"""

from __future__ import annotations

import contextlib
import functools
import json
import resource
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: per-op Spark counters, summed over the ops of a pass.
SPARK_KEYS = (
    "jobs", "stages", "tasks", "stage_active_ms", "driver_only_ms",
    "executor_run_ms", "executor_cpu_ms", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "persisted_rdds", "persisted_bytes",
)
STREAM_PHASES = (
    "addBatch", "walCommit", "commitOffsets", "queryPlanning",
    "getBatch", "latestOffset", "triggerExecution",
)


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress, tagged with the op that ran it."""

    def __init__(self):
        self.lock = threading.Lock()
        self.op = None
        self.run_ops: dict[str, str] = {}
        self.progress: list[tuple[str, dict]] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.run_ops[str(event.runId)] = self.op

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.append((self.run_ops.get(p["runId"], self.op), p))

    def onQueryTerminated(self, event):
        pass

    def runs_of(self, op: str) -> list[str]:
        with self.lock:
            return [r for r, o in self.run_ops.items() if o == op]


class SparkProbe:
    """Job group per op; stage counters from ``statusStore`` afterwards."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.tracker = self.sc.statusTracker()
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self._n = 0
        self._persisted_before: set[int] = set()

    def begin(self, name: str) -> str:
        self._n += 1
        group = f"{name}#{self._n}"
        self.sc.setJobGroup(group, name)
        self.listener.op = group
        self._persisted_before = self._persisted()
        return group

    def _persisted(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet().toArray()}

    def after_build(self) -> tuple[int, int]:
        """Persisted RDDs created while the op built its DataFrame."""
        new = self._persisted() - self._persisted_before
        size = 0
        if new:
            for info in self.jsc.getRDDStorageInfo():
                if int(info.id()) in new:
                    size += int(info.memSize()) + int(info.diskSize())
        return len(new), size

    def end(self, group: str, wall_ms: float, persisted: tuple[int, int]) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        groups = [group] + self.listener.runs_of(group)
        out = dict.fromkeys(SPARK_KEYS, 0)
        out["persisted_rdds"], out["persisted_bytes"] = persisted
        intervals = []
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                out["jobs"] += 1
                for sid in info.stageIds:
                    try:
                        st = self.store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue  # skipped stage: never attempted
                    sub, done = st.submissionTime(), st.completionTime()
                    if not sub.isDefined():
                        continue
                    out["stages"] += 1
                    out["tasks"] += int(st.numTasks())
                    out["executor_run_ms"] += int(st.executorRunTime())
                    out["executor_cpu_ms"] += int(st.executorCpuTime()) / 1e6
                    out["gc_ms"] += int(st.jvmGcTime())
                    out["input_bytes"] += int(st.inputBytes())
                    out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                    out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                    out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                    if done.isDefined():
                        intervals.append((sub.get().getTime(), done.get().getTime()))
        active = union_length(intervals)
        out["stage_active_ms"] = active
        out["driver_only_ms"] = max(0.0, wall_ms - active)
        return out

    def streaming(self, groups: set[str]) -> tuple[dict, dict]:
        """Micro-batch totals over the progress of the ops in ``groups``,
        plus ``addBatch`` per op name."""
        with self.listener.lock:
            events = [(op, p) for op, p in self.listener.progress if op in groups]
        out = {"batches": 0, "input_rows": 0, "state_rows": 0, "state_commit_ms": 0}
        out.update({f"{k}_ms": 0 for k in STREAM_PHASES})
        per_op: dict[str, float] = defaultdict(float)
        last_state: dict[str, int] = {}
        for op, p in events:
            out["batches"] += 1
            out["input_rows"] += int(p.get("numInputRows") or 0)
            d = p.get("durationMs") or {}
            for k in STREAM_PHASES:
                out[f"{k}_ms"] += d.get(k, 0)
            per_op[(op or "").split("#")[0]] += d.get("addBatch", 0)
            ops = p.get("stateOperators") or []
            out["state_commit_ms"] += sum(s.get("commitTimeMs", 0) for s in ops)
            last_state[p["runId"]] = sum(s.get("numRowsTotal", 0) for s in ops)
        out["state_rows"] = sum(last_state.values())
        return out, dict(per_op)

    def peak_rss_mb(self) -> float:
        """Driver JVM high-water RSS plus the Python driver's maxrss."""
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """In-memory spans: name, layer, start, end, parent and op id.

    The benchmark is single-threaded, so a stack gives each span its
    parent. ``wrap`` returns a function that records one span per call.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op = None
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        i = len(self.spans)
        self.spans.append({
            "name": name, "layer": layer, "op": self.op,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self.stack.append(i)
        try:
            yield
        finally:
            self.spans[i]["end"] = time.perf_counter()
            self.stack.pop()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(name, layer):
                return fn(*a, **k)

        return traced

    def patch(self, owner, attr: str, name: str, layer: str) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, layer))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_ms(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus what its
        children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["layer"]] += (s["end"] - s["start"] - child[i]) * 1000.0
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
