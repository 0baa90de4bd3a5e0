"""Tracing for the benchmark's traced run: spans, Spark job attribution,
stage metrics and streaming progress.

Nothing here edits the program.  ``Tracer.wrap`` replaces a module or
class attribute in this process with a recording wrapper (undone by
``Tracer.close``), so spans sit at the boundaries of the public
functions each product path calls.  Each span adds a Spark job tag
while it runs; the tag is a thread-local property, so the jobs a span
causes on its own thread -- including the worker threads inside
``run_pending_jobs`` and the HTTP handler threads -- carry it, and their
stage metrics can be attributed to the span afterwards.

Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

from py4j.protocol import Py4JJavaError

from stats import driver_seconds


class Tracer:
    def __init__(self, sc) -> None:
        self._sc = sc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []
        self.op_of_job: dict[str, int] = {}

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def set_op(self, op: int | None) -> None:
        """Operation id inherited by spans opened on this thread."""
        self._local.op = op

    def span(self, name: str, op: int | None = None):
        return _Span(self, name, op)

    def wrap(self, owner, attr: str, name: str, op_of=None) -> None:
        """Patch ``owner.attr`` with a wrapper that records span ``name``;
        ``op_of(args, kwargs)`` may name the operation a call belongs to
        when it runs on a thread the operation did not start."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            op = op_of(args, kwargs) if op_of else None
            with tracer.span(name, op):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.by_name(name)]

    # -- Spark job attribution --------------------------------------------

    def jobs_of(self, spans) -> set[int]:
        tracker = self._sc._jsc.sc().statusTracker()
        out: set[int] = set()
        for s in spans:
            out.update(int(j) for j in tracker.getJobIdsForTag(s["tag"]))
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: int | None) -> None:
        self.t, self.name, self.op = tracer, name, op

    def __enter__(self):
        t = self.t
        stack = t._stack()
        parent = stack[-1] if stack else None
        self.id = next(t._ids)
        if self.op is None:
            self.op = parent["op"] if parent else getattr(t._local, "op", None)
        self.rec = {
            "id": self.id, "parent": parent["id"] if parent else None,
            "name": self.name, "op": self.op, "tag": f"perfbench-span-{self.id}",
            "thread": threading.get_ident(),
        }
        t._sc.addJobTag(self.rec["tag"])
        stack.append(self.rec)
        self.rec["wall_start"] = time.time()
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.rec["wall_end"] = time.time()
        self.rec["error"] = exc[0] is not None
        t = self.t
        t._stack().pop()
        t._sc.removeJobTag(self.rec["tag"])
        with t._lock:
            t.spans.append(self.rec)
        return False


# ---------------------------------------------------------------------------
# Spark engine metrics from the status store
# ---------------------------------------------------------------------------


def max_job_id(sc) -> int:
    """Highest job id the status store knows (-1 before any job)."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
    return -1 if jobs.isEmpty() else int(jobs.head().jobId())


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def spark_window(sc, first_job: int, wall: tuple[float, float], cores: int) -> dict:
    """Engine metrics for every job with id > ``first_job`` (the window's
    jobs): counts, executor time, bytes, and ``driver_s`` = wall minus
    the stage critical path.  Jobs whose ids fall in the window but are
    missing from the store were evicted (``jobs_evicted``)."""
    store = sc._jsc.sc().statusStore()
    last = max_job_id(sc)
    m = dict.fromkeys(
        ("jobs", "jobs_evicted", "stages", "stages_evicted", "tasks",
         "exec_run_s", "exec_cpu_s", "shuffle_bytes", "input_bytes",
         "spill_bytes"), 0.0)
    stage_times = []
    seen_stages = set()
    for j in range(first_job + 1, last + 1):
        try:
            job = store.job(j)
        except Py4JJavaError:  # NoSuchElementException: evicted
            m["jobs_evicted"] += 1
            continue
        m["jobs"] += 1
        it = job.stageIds().iterator()
        while it.hasNext():
            sid = int(it.next())
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted stage
                m["stages_evicted"] += 1
                continue
            if str(st.status()) == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += st.numTasks()
            m["exec_run_s"] += st.executorRunTime() / 1e3
            m["exec_cpu_s"] += st.executorCpuTime() / 1e9
            m["shuffle_bytes"] += st.shuffleWriteBytes()
            m["input_bytes"] += st.inputBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if s0 is not None and s1 is not None:
                stage_times.append((s0, s1))
    drv, path = driver_seconds(wall, stage_times)
    w = wall[1] - wall[0]
    m["driver_s"] = drv
    m["critical_path_s"] = path
    m["core_busy_share"] = m["exec_run_s"] / (w * cores) if w > 0 else 0.0
    return m


def stream_listener(spark):
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(event.progress)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener
