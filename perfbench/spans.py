"""Span tracer for the traced benchmark run.

Spans are recorded from outside the package: ``Tracer.install`` wraps the
public functions of each layer (class attributes, so calls the package makes
internally are seen too) and restores them on ``uninstall``.  Every span has
a name, start, end, parent span and run id, and lives in memory until
``write`` dumps them at the end of the run.

Spans that launch Spark work (``apply_batch``, ``merge``, ``compact``) set a
Spark job group of their own for their duration, so the Spark status store
can later attribute jobs, stages and tasks to exactly one span.  The status
store is read once the measured phase is over, not inside it.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

# (TranscriptTable attribute, span name, sets a Spark job group)
TABLE_SPANS = (
    ("merge", "table.merge", True),
    ("evolve_schema", "table.evolve_schema", False),
    ("is_epoch_committed", "table.is_epoch_committed", False),
    ("manifest", "table.manifest", False),
    ("cursor_lsn", "table.cursor_lsn", False),
    ("epoch_state", "table.epoch_state", False),
    ("history", "table.history", False),
    ("compact", "table.compact", True),
    ("snapshot", "table.snapshot", False),
    ("lookup", "table.lookup", False),
    ("bucket_of", "table.bucket_of", False),
    ("delta_file_counts", "table.delta_file_counts", False),
)
# the calls that read the manifest log: counted per microbatch
MANIFEST_READS = ("table.manifest", "table.is_epoch_committed",
                  "table.cursor_lsn", "table.epoch_state", "table.history")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    # ---- recording ----------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, group: bool = False):
        """Run ``fn`` inside a span called ``name``."""
        b0 = time.perf_counter()
        stack = self._stack()
        span = {"id": next(self._ids), "name": name, "run": self.run_id,
                "parent": stack[-1]["id"] if stack else None,
                "thread": threading.get_ident()}
        prev = None
        if group:
            span["group"] = f"perfbench:{self.run_id}:{span['id']}"
            prev = {k: self.sc.getLocalProperty(k) for k in
                    ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel")}
            self.sc.setJobGroup(span["group"], name)
        stack.append(span)
        cost = time.perf_counter() - b0
        span["start"] = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.time()
            b1 = time.perf_counter()
            stack.pop()
            if prev is not None:
                for k, v in prev.items():
                    self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(span)
                self.bookkeeping_s += cost + time.perf_counter() - b1

    def wrap(self, owner, attr: str, name: str, group: bool = False) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return tracer.call(name, orig, args, kwargs, group=group)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        from go_data_publisher_spark.lake.table import TranscriptTable
        from go_data_publisher_spark.serving import ReportServer
        from go_data_publisher_spark.streaming.apply import ChangeApplier

        for attr, name, group in TABLE_SPANS:
            self.wrap(TranscriptTable, attr, name, group)
        self.wrap(ChangeApplier, "apply_batch", "apply.apply_batch", group=True)
        # the /row route's handler: lookup() returns a lazy plan, and the
        # route runs its scan
        self.wrap(ReportServer, "_lookup", "serving.row")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")

    # ---- analysis -----------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def descendants(self, span: dict, kids: dict) -> list[dict]:
        out, todo = [], list(kids.get(span["id"], ()))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], ()))
        return out

    def self_time(self, span: dict, kids: dict) -> float:
        """Duration minus the part covered by direct children (children of
        one span run on its thread, one after another)."""
        return dur(span) - sum(dur(c) for c in kids.get(span["id"], ()))

    def busy(self, name: str, windows: list[tuple[float, float]]) -> float:
        """Wall time inside outermost spans of ``name`` that start within
        one of ``windows`` (a recursive call is not counted twice)."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.named(name):
            if not any(lo <= s["start"] <= hi for lo, hi in windows):
                continue
            p, nested = s["parent"], False
            while p is not None:
                if by_id[p]["name"] == name:
                    nested = True
                    break
                p = by_id[p]["parent"]
            if not nested:
                total += dur(s)
        return total


def dur(span: dict) -> float:
    return span["end"] - span["start"]


# ---- Spark status store ------------------------------------------------------

def wait_listener_bus(sc, timeout_ms: int = 10_000) -> None:
    """Let the status store absorb every queued listener event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def group_spark_stats(sc, group: str, want_tasks: bool = False) -> dict:
    """Jobs, tasks, shuffle bytes, spill and GC of one job group, read from
    Spark's status store.  ``want_tasks`` adds the task durations of the
    group's last executed stage (the write stage of a merge)."""
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "gc_ms": 0, "last_stage_run_ms": 0, "last_stage_task_ms": []}
    stage_ids = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out["jobs"] += 1
        out["tasks"] += job.numTasks() - job.numSkippedTasks()
        ids = job.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    last = None
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        if st.numCompleteTasks() == 0:
            continue  # skipped: its output was reused from an earlier job
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.diskBytesSpilled()
        out["gc_ms"] += st.jvmGcTime()
        last = st
    if last is not None:
        out["last_stage_run_ms"] = last.executorRunTime()
        if want_tasks:
            tasks = store.taskList(last.stageId(), last.attemptId(), 1 << 20)
            out["last_stage_task_ms"] = [
                tasks.apply(i).duration().get() for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()]
    return out
