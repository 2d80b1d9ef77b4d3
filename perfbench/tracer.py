"""Driver-side tracing for the traced run (``--trace 1``).

Nothing here changes the engine. The tracer replaces public functions of
the engine's modules with timing wrappers for the duration of a run, and
tags the Spark jobs of every benchmark op with ``SparkContext.addJobTag``
so that job, stage and task counts can be read back from the status
tracker once the run is over.

Vocabulary:
- an *op* is one call the workload makes into the engine (a query, a
  commit, a delete, a merge). Ops nest: an ingest update op holds the
  commit, delete and query ops it made.
- a *layer* is one wrapped engine function. Each wrapped call records a
  span ``(span_id, parent_span_id, op_index, layer, t0, t1)``; the op that
  was innermost when the call started accumulates the layer's time and
  call count (outermost call of a layer only, so recursion is not counted
  twice). Leaf layers, called too often for spans, keep time and count
  only.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark actions a searcher uses to bring results to the driver.
ACTIONS = ("collect", "toPandas", "toArrow")
# Searcher functions whose actions are reported apart (the term-stats,
# dispatch and stored-fetch round trips, and local mode's posting fetch).
ACTION_CALLERS = ("global_df", "dispatch_segments", "fetch_stored", "local_postings")


class Op:
    __slots__ = ("index", "kind", "tag", "span", "wall", "ms", "calls",
                 "caller_ms", "results", "jobs", "stages", "tasks")

    def __init__(self, index: int, kind: str, span: int):
        self.index = index
        self.kind = kind
        self.tag = f"perfbench-op-{index}"
        self.span = span
        self.wall = 0.0
        self.ms = defaultdict(float)          # layer -> ms (outermost calls)
        self.calls = defaultdict(int)         # layer -> outermost calls
        self.caller_ms = defaultdict(float)   # action caller -> ms
        self.results = defaultdict(int)       # named outcome counters
        self.jobs = self.stages = self.tasks = 0


class Tracer:
    def __init__(self, spark, package_dir: str):
        self.sc = spark.sparkContext
        self.package_dir = os.path.realpath(package_dir) + os.sep
        self.ops: list[Op] = []
        self.spans: list[tuple] = []
        self._stack: list[Op] = []
        self._tls = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._id_lock = threading.Lock()
        self._restore: list[tuple] = []
        self._main = threading.get_ident()

    # ---------------- ops ----------------------------------------------

    def _new_span(self) -> int:
        with self._id_lock:
            return next(self._ids)

    @contextmanager
    def op(self, kind: str):
        parent = self._stack[-1].span if self._stack else 0
        op = Op(len(self.ops), kind, self._new_span())
        self.ops.append(op)
        self._stack.append(op)
        self.sc.addJobTag(op.tag)
        t0 = time.perf_counter()
        try:
            yield op
        finally:
            t1 = time.perf_counter()
            op.wall = t1 - t0
            self.sc.removeJobTag(op.tag)
            self._stack.pop()
            self.spans.append((op.span, parent, op.index, f"op:{kind}", t0, t1))

    # ---------------- wrapping -----------------------------------------

    def _thread_state(self):
        st = self._tls
        if not hasattr(st, "depth"):
            st.depth = defaultdict(int)
            st.spans = []
        return st

    def _caller(self) -> str:
        """Name of the nearest engine function on the stack."""
        f = sys._getframe(2)
        while f is not None:
            if f.f_code.co_filename.startswith(self.package_dir):
                name = f.f_code.co_name.lstrip("_")
                return name if name in ACTION_CALLERS else "other"
            f = f.f_back
        return "other"

    def wrap(self, owner, attr: str, layer: str, on_result=None,
             tag_thread: bool = False, leaf: bool = False) -> None:
        """Replace ``owner.attr`` with a timing wrapper until ``restore``.

        ``on_result(op, result)`` may count outcomes of the call.
        ``tag_thread`` re-applies the open ops' job tags when the call runs
        on another thread (Spark job tags are per thread). ``leaf`` keeps
        only time and call count, without spans: for functions called so
        often that span bookkeeping would outweigh them."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def leaf_wrapper(*args, **kwargs):
            if not tracer._stack:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                op = tracer._stack[-1]
                op.ms[layer] += (time.perf_counter() - t0) * 1e3
                op.calls[layer] += 1

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer._stack:
                return fn(*args, **kwargs)
            op = tracer._stack[-1]
            st = tracer._thread_state()
            depth = st.depth[layer]
            caller = tracer._caller() if layer == "action" and depth == 0 else None
            foreign = tag_thread and threading.get_ident() != tracer._main
            tags = [o.tag for o in tracer._stack] if foreign else []
            for tag in tags:
                tracer.sc.addJobTag(tag)
            parent = st.spans[-1] if st.spans else op.span
            span = tracer._new_span()
            st.spans.append(span)
            st.depth[layer] = depth + 1
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                st.depth[layer] = depth
                st.spans.pop()
                for tag in tags:
                    tracer.sc.removeJobTag(tag)
                tracer.spans.append((span, parent, op.index, layer, t0, t1))
                if depth == 0:
                    op.ms[layer] += (t1 - t0) * 1e3
                    op.calls[layer] += 1
                    if caller is not None:
                        op.caller_ms[caller] += (t1 - t0) * 1e3
            if on_result is not None and depth == 0:
                on_result(op, result)
            return result

        setattr(owner, attr, leaf_wrapper if leaf else wrapper)
        self._restore.append((owner, attr, fn))

    def restore(self) -> None:
        while self._restore:
            owner, attr, fn = self._restore.pop()
            setattr(owner, attr, fn)

    # ---------------- Spark accounting ---------------------------------

    def read_spark_counts(self, ops) -> None:
        """Fill jobs/stages/tasks of each op from the status tracker.
        A stage counts once per op and only if it ran tasks (a shuffle
        stage reused by a later job is reported there as skipped)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jtracker = jsc.statusTracker()
        tracker = self.sc.statusTracker()
        for op in ops:
            stage_ids = set()
            job_ids = list(jtracker.getJobIdsForTag(op.tag))
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(int(s) for s in info.stageIds)
            op.jobs = len(job_ids)
            op.stages = op.tasks = 0
            for sid in stage_ids:
                info = tracker.getStageInfo(sid)
                if info is not None and info.numCompletedTasks:
                    op.stages += 1
                    op.tasks += info.numCompletedTasks

    def write_spans(self, path: str) -> None:
        kinds = {op.index: op.kind for op in self.ops}
        with open(path, "w") as fh:
            for span, parent, op_index, name, t0, t1 in sorted(
                self.spans, key=lambda s: s[4]
            ):
                fh.write(json.dumps({
                    "span": span, "parent": parent, "op": op_index,
                    "op_kind": kinds.get(op_index), "name": name,
                    "start_s": t0, "end_s": t1,
                }) + "\n")
