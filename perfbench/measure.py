"""Measurement helpers for the benchmark: spans around calls into the
engine's modules, Spark status-store counters by job id, store-directory
accounting and JVM memory.

Everything here observes the program from outside: spans come from
wrappers the benchmark installs on module attributes for the length of a
traced run, counters from Spark's status store.  No engine code changes.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it, as
    (percentile, value); None when there are fewer than eleven samples."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        k = int(n * p / 100)  # samples at or below the percentile
        if n - k >= 10 and k >= 1:
            return p, xs[k - 1]
    return None


def union_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


class Tracer:
    """In-memory spans (name, start, end, parent, op) around wrapped calls.

    ``op`` is the trigger or query the span belongs to.  A thread with no
    span stack of its own attaches its outermost spans to the span that
    handed it the work (see :meth:`wrap_fanout`) or else to the innermost
    span open on the operation's thread (Spark's ``foreachBatch`` callback
    thread)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: str | None = None
        self._op_stack: list[int] = []
        self.bookkeeping_s = 0.0
        self.calls: dict[str, int] = defaultdict(int)
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = getattr(self._local, "adopted_by", None)
            if parent is None and self._op_stack:
                parent = self._op_stack[-1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"name": name, "start": 0.0, "end": 0.0,
                               "parent": parent, "op": self._op})
        stack.append(sid)
        b1 = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans[sid]["start"] = b1
                self.spans[sid]["end"] = end
                self.bookkeeping_s += (b1 - b0) + (time.perf_counter() - end)

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one measured operation, opened on this thread."""
        self._op = op_id
        self._op_stack = self._stack()
        try:
            with self.span(name):
                yield
        finally:
            self._op_stack = []
            self._op = None

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper until
        :meth:`restore`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def wrap_ops(self, owner, attr: str, span_name: str, op_prefix: str,
                 around=None) -> None:
        """Wrap ``owner.attr`` so that each call is an operation of its own,
        ``<op_prefix>-<n>`` with ``n`` counting the calls from 0, rooted in a
        span named ``span_name``; ``around(n)``, if given, is a context
        manager entered around the call."""
        fn = getattr(owner, attr)
        calls = itertools.count()

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            n = next(calls)
            with around(n) if around else nullcontext():
                with self.op(f"{op_prefix}-{n}", span_name):
                    return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def wrap_fanout(self, owner, attr: str) -> None:
        """Wrap ``owner.attr(tasks, ...)``, which runs callables on worker
        threads, so that spans opened inside each task attach to the span
        open where the tasks were handed over."""
        fn = getattr(owner, attr)

        def adopt(task, parent):
            def run():
                self._local.adopted_by = parent
                try:
                    return task()
                finally:
                    self._local.adopted_by = None
            return run

        @functools.wraps(fn)
        def wrapped(tasks, *args, **kwargs):
            stack = self._stack()
            parent = stack[-1] if stack else None
            return fn([t and adopt(t, parent) for t in tasks], *args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def count(self, owner, attr: str, name: str) -> None:
        """Count calls of ``owner.attr`` under ``name`` until :meth:`restore`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            with self._lock:
                self.calls[name] += 1
            return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, counted)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched = []

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def self_ms(self, op_id: str) -> dict[str, float]:
        """Self time per layer (the span-name prefix before the first dot)
        of one operation: a span's duration minus the part of it its
        children cover, summed over the layer's spans.  Spans that run at
        once in worker threads each add their own self time, so a layer's
        figure can exceed the operation's wall time."""
        mine, children = [], defaultdict(list)
        for sid, s in enumerate(self.spans):
            if s["op"] != op_id:
                continue
            mine.append((sid, s))
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for sid, s in mine:
            covered = union_length(
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in children[sid] if min(b, s["end"]) > max(a, s["start"])
            )
            out[s["name"].split(".")[0]] += ((s["end"] - s["start"]) - covered) * 1000
        return dict(out)

    def wall_ms(self, op_id: str, prefix: str) -> float:
        """Wall time during which at least one of an operation's spans named
        ``prefix*`` was open."""
        return union_length((s["start"], s["end"]) for s in self.op_spans(op_id)
                            if s["name"].startswith(prefix)) * 1000

    def sum_ms(self, op_id: str, prefix: str, top_level_only: bool = False) -> float:
        """Summed duration of an operation's spans named ``prefix*``; with
        ``top_level_only`` spans nested in a same-prefix span are skipped."""
        total = 0.0
        for s in self.op_spans(op_id):
            if not s["name"].startswith(prefix):
                continue
            if top_level_only and s["parent"] is not None and \
                    self.spans[s["parent"]]["name"].startswith(prefix):
                continue
            total += (s["end"] - s["start"]) * 1000
        return total

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkCounters:
    """Counters of the Spark jobs run since the last call, read from the
    status store job id by job id.

    Job ids are assigned in sequence, so probing ids upward from the last
    one seen finds exactly the new jobs.  A count taken from the size of
    the job list would stop moving once the store's retained-job cap
    (``spark.ui.retainedJobs``) is reached."""

    STAGE_FIELDS = {
        "input_bytes": "inputBytes", "output_bytes": "outputBytes",
        "shuffle_read_bytes": "shuffleReadBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "executor_cpu_ns": "executorCpuTime", "gc_ms": "jvmGcTime",
    }

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # the newest retained jobs
        self._next = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: no such job yet
            return None

    def delta(self) -> dict:
        """Totals over the jobs started since the previous call."""
        self._sc.listenerBus().waitUntilEmpty()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "collect_jobs": 0,
               "stage_jobs": 0, "busy_ms": 0.0, "intervals": []}
        for k in self.STAGE_FIELDS:
            out[k] = 0
        while True:
            job = self._job(self._next)
            if job is None:
                break
            self._next += 1
            out["jobs"] += 1
            # a driver action inside foreachBatch records the callback's
            # ``call`` as its call site
            if job.name().startswith(("collect at ", "call at ")):
                out["collect_jobs"] += 1
            desc = job.description()
            if desc.isDefined() and str(desc.get()).startswith("stage "):
                out["stage_jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append((sub.get().getTime(), done.get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_id = it.next()
                try:
                    st = self._store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # stage skipped: never attempted
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                for k, getter in self.STAGE_FIELDS.items():
                    out[k] += getattr(st, getter)()
        out["busy_ms"] = union_length(out.pop("intervals"))
        return out


def tree_entries(root: str) -> dict[str, tuple[int, int]]:
    """path -> (inode, size) of every regular file under ``root``."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            try:
                st = os.lstat(path)
            except FileNotFoundError:
                continue
            out[path] = (st.st_ino, st.st_size)
    return out


def tree_bytes(entries: dict[str, tuple[int, int]]) -> int:
    """Bytes held by ``entries``, each hardlinked file counted once."""
    return sum(dict(entries.values()).values())


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM (VmHWM)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
