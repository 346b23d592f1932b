"""Spans around the engine's public entry points, recorded from outside.

The traced run patches ``apply_batch``, the ``LakeTable`` methods
``merge``, ``manifest``, ``read``, ``lookup``, ``read_changes``,
``compact`` and ``harvest_blooms``, and every ``LocalFS`` method with
wrappers that record one span per call. The workloads add their own
top-level spans (``op.*``) around each operation, so a lazy DataFrame
returned by ``read`` or ``lookup`` is charged to the operation whose
action runs it. Spans nest per thread; a span that can launch Spark
jobs gets its own job group, which ``resolve`` turns into job, stage
and task counts and, where the status store allows it, executor time
and shuffle bytes.

Span records keep the field names of ``operators/trace.py``
(``op``, ``elapsed_sec``, ``batch_id``) and add ``span_id``,
``parent_id``, ``start``, ``end`` and ``workload``. They stay in memory
until ``write_jsonl`` at the end of the run.

Tracing alternates: a top-level span is recorded only while ``on`` is
set and ``batch_filter`` accepts its batch id, so one run holds traced
and untraced operations and the workload compares the two. Each span
also carries the run ``phase`` it was recorded in.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

#: LakeTable methods wrapped; True when the call can launch Spark jobs
TABLE_METHODS = {
    "merge": True, "manifest": False, "read": True, "lookup": True,
    "read_changes": True, "compact": True, "harvest_blooms": True,
}
FS_METHODS = (
    "put_if_absent", "put_atomic", "read_text", "open_read", "exists",
    "isdir", "makedirs", "listdir", "walk_bottom_up", "remove",
    "rmdir_if_empty", "rmtree", "spark_path",
)

_OFF = object()  # stack marker: an unrecorded top-level call is running


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict[str, Any]] = []
        self.on = False
        self.phase = "setup"
        self.batch_filter: Callable[[int], bool] = lambda b: True
        self.notes: list[str] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[Callable[[], None]] = []

    # -- recording ---------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, op: str, batch_id: int | None = None,
             job_group: bool = True) -> Iterator[dict | None]:
        """Record ``op`` around the body. Yields the span record (the
        body may add fields) or None when this call is not recorded."""
        st = self._stack()
        parent = st[-1] if st else None
        if parent is _OFF or (parent is None and not (
                self.on and (batch_id is None or self.batch_filter(batch_id)))):
            if parent is None:
                st.append(_OFF)
                try:
                    yield None
                finally:
                    st.pop()
            else:
                yield None
            return
        rec: dict[str, Any] = {
            "span_id": next(self._ids),
            "parent_id": parent["span_id"] if parent else None,
            "op": op, "workload": self.workload, "phase": self.phase,
            "batch_id": batch_id if batch_id is not None
            else (parent or {}).get("batch_id"),
        }
        prev_group = None
        if job_group:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            rec["job_group"] = f"perfbench-{rec['span_id']}"
            self.sc.setLocalProperty("spark.jobGroup.id", rec["job_group"])
        st.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = f"{type(e).__name__}: {e}"
            raise
        finally:
            rec["end"] = time.perf_counter()
            rec["elapsed_sec"] = rec["end"] - rec["start"]
            st.pop()
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn: Callable, op: str, job_group: bool,
              batch_arg: int | None = None) -> Callable:
        if inspect.isgeneratorfunction(fn):
            # drained inside the span: a generator suspended between
            # yields would leave its span on the stack under the caller
            @functools.wraps(fn)
            def gen(*a, **k):
                with self.span(op, job_group=job_group):
                    return iter(list(fn(*a, **k)))
            return gen

        @functools.wraps(fn)
        def call(*a, **k):
            bid = None
            if batch_arg is not None:
                bid = k.get("batch_id", a[batch_arg] if len(a) > batch_arg else None)
            with self.span(op, batch_id=bid, job_group=job_group) as rec:
                out = fn(*a, **k)
                if rec is not None and hasattr(out, "as_dict"):
                    rec["result"] = out.as_dict()
                elif rec is not None and type(out) is int:  # a version
                    rec["returned"] = out
                return out
        return call

    # -- patching ----------------------------------------------------
    def _patch(self, owner: Any, name: str, wrapper: Callable) -> None:
        had = name in vars(owner)
        old = vars(owner).get(name)
        setattr(owner, name, wrapper)

        def undo() -> None:
            if had:
                setattr(owner, name, old)
            else:
                delattr(owner, name)
        self._undo.append(undo)

    def install(self, apply_mod, stream_mod, table_cls, fs_cls) -> None:
        """Wrap the engine's entry points (undone by ``uninstall``)."""
        wrapped_apply = self._wrap(apply_mod.apply_batch, "apply_batch",
                                   True, batch_arg=2)
        self._patch(apply_mod, "apply_batch", wrapped_apply)
        self._patch(stream_mod, "apply_batch", wrapped_apply)
        for name, jobs in TABLE_METHODS.items():
            self._patch(table_cls, name,
                        self._wrap(getattr(table_cls, name), f"table.{name}",
                                   jobs, batch_arg=3 if name == "merge" else None))
        for name in FS_METHODS:
            self._patch(fs_cls, name,
                        self._wrap(getattr(fs_cls, name), f"fs.{name}", False))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- after the run -----------------------------------------------
    def resolve(self) -> None:
        """Attach job, stage and task counts to every span with a job
        group, and executor run/CPU time and shuffle-write bytes where
        the status store answers over py4j."""
        tracker = self.sc.statusTracker()
        store = None
        try:
            store = self.sc._jsc.sc().statusStore()
        except Exception as e:  # internal API; degrade to counts only
            self.note(f"status store unavailable ({type(e).__name__}: {e}); "
                      "executor time and shuffle bytes omitted")
        for rec in self.spans:
            group = rec.get("job_group")
            if not group:
                continue
            jobs = sorted(tracker.getJobIdsForGroup(group))
            stages = tasks = 0
            run_ms = cpu_ns = shuffle_b = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = tracker.getStageInfo(sid)
                    if si is None or si.numCompletedTasks == 0:
                        continue  # skipped (reused) stage
                    stages += 1
                    tasks += si.numCompletedTasks
                    if store is not None:
                        try:
                            sd = store.lastStageAttempt(sid)
                            run_ms += sd.executorRunTime()
                            cpu_ns += sd.executorCpuTime()
                            shuffle_b += sd.shuffleWriteBytes()
                        except Exception as e:
                            self.note(f"stage metrics unavailable "
                                      f"({type(e).__name__}); executor time "
                                      "and shuffle bytes omitted")
                            store = None
            rec["job_ids"] = jobs
            rec["jobs"] = len(jobs)
            rec["stages"] = stages
            rec["tasks"] = tasks
            if store is not None:
                rec["executor_run_s"] = run_ms / 1e3
                rec["executor_cpu_s"] = cpu_ns / 1e9
                rec["shuffle_write_mb"] = shuffle_b / 2**20

    def note(self, msg: str) -> None:
        if msg not in self.notes:
            self.notes.append(msg)
            print(f"perfbench: {msg}", file=sys.stderr)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["span_id"]):
                f.write(json.dumps(rec, default=str) + "\n")


def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent_id") is not None:
            out.setdefault(s["parent_id"], []).append(s)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """span_id -> duration minus the part of it its children cover
    (overlapping children count once; child time outside the parent's
    interval is ignored)."""
    kids = children(spans)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["span_id"], []), key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["span_id"]] = (hi - lo) - covered
    return out


def inclusive(spans: list[dict], field: str) -> dict[int, float]:
    """span_id -> ``field`` summed over the span and its descendants."""
    kids = children(spans)
    memo: dict[int, float] = {}

    def tot(s: dict) -> float:
        sid = s["span_id"]
        if sid not in memo:
            memo[sid] = (s.get(field) or 0) + sum(tot(c) for c in kids.get(sid, []))
        return memo[sid]
    return {s["span_id"]: tot(s) for s in spans}


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    kids = children(spans)
    out, todo = [], list(kids.get(root_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["span_id"], []))
    return out
